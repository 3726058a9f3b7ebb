"""Deterministic ER7 (HL7 v2 pipe-delimited) inbox generator.

Writes `n_files` inbox files of blank-line separated messages and returns the
ground truth the benchmark checks the lake against. The truth is derived from
what the generator planted, never from the engine:

  * exact duplicates: a share of the emitted messages repeat an earlier valid
    payload byte for byte, so dedup must drop them;
  * planted parse errors: each one is a unique payload (its own control id),
    so dedup cannot collapse two of them into one error row;
  * an HL7 2.3-2.7 version mix, ADT and ORU shapes with 0-30 OBX segments,
    a few large RTF blobs in OBX-5 and mixed LF / CRLF line endings.

A message's id is the sha-256 of its payload as the readers split it: the
segments joined by the message's own line ending, no trailing whitespace.
"""

import hashlib
import os
import random

VERSIONS = ["2.3", "2.3.1", "2.4", "2.5", "2.5.1", "2.6", "2.7"]
FAMILY = ["SMITH", "JONES", "GARCIA", "MILLER", "DAVIS", "LOPEZ", "WILSON",
          "MOORE", "TAYLOR", "NGUYEN", "KIM", "PATEL", "MULLER", "ROSSI"]
GIVEN = ["JOHN", "MARY", "ANA", "LI", "OMAR", "SARA", "JOSE", "EMMA", "RAJ",
         "YUKI", "PAUL", "NORA"]
DIAG = [("I10", "Essential hypertension"), ("E11.9", "Type 2 diabetes"),
        ("J45.909", "Asthma"), ("N39.0", "Urinary tract infection"),
        ("R07.9", "Chest pain"), ("K21.9", "GERD")]
LABS = [("718-7", "Hemoglobin", "g/dL", "NM"), ("2345-7", "Glucose", "mg/dL", "NM"),
        ("2160-0", "Creatinine", "mg/dL", "NM"), ("6690-2", "WBC", "10*3/uL", "NM"),
        ("777-3", "Platelets", "10*3/uL", "NM"), ("8867-4", "Heart rate", "/min", "NM"),
        ("11529-5", "Pathology note", "", "ST")]
RTF_WORDS = ["patient", "specimen", "tissue", "margin", "negative", "benign",
             "report", "section", "stain", "normal", "findings", "clinical"]


def _ts(rng):
    return "2024%02d%02d%02d%02d%02d" % (rng.randint(1, 12), rng.randint(1, 28),
                                        rng.randint(0, 23), rng.randint(0, 59),
                                        rng.randint(0, 59))


def _msh(rng, mtype, ctrl, version):
    return ("MSH|^~\\&|SENDAPP|FAC%d|LAKE|HCDL|%s||%s|%s|P|%s"
            % (rng.randint(1, 9), _ts(rng), mtype, ctrl, version))


def _pid(rng, i):
    ids = "MRN%07d^^^HOSP^MR" % i
    if rng.random() < 0.2:  # a second identifier as a ~ repetition
        ids += "~SSN%06d^^^SSA^SS" % rng.randint(0, 999999)
    return ("PID|1||%s||%s^%s^%s||19%02d%02d%02d|%s|||%d MAIN ST^^CITY&DISTRICT^ST^%05d"
            % (ids, rng.choice(FAMILY), rng.choice(GIVEN), chr(65 + rng.randint(0, 25)),
               rng.randint(30, 99), rng.randint(1, 12), rng.randint(1, 28),
               rng.choice("MFU"), rng.randint(1, 999), rng.randint(10000, 99999)))


def _rtf(rng, n_bytes):
    # one line, no HL7 separators: {\rtf1 ...\par ...}
    parts = ["{\\rtf1\\ansi\\deff0 "]
    size = len(parts[0])
    while size < n_bytes:
        w = " ".join(rng.choice(RTF_WORDS) for _ in range(12)) + "\\par "
        parts.append(w)
        size += len(w)
    parts.append("}")
    return "".join(parts)


def _valid(rng, i, blob_bytes):
    """One parseable message: (segments, n_pid, n_obx, n_dg1)."""
    version = rng.choice(VERSIONS)
    ctrl = "C%08d" % i
    if rng.random() < 0.5:
        n_dg1 = rng.randint(0, 3)
        segs = [_msh(rng, "ADT^A0%d" % rng.choice([1, 4, 8]), ctrl, version),
                "EVN|A01|%s" % _ts(rng), _pid(rng, i),
                "PV1|1|%s|WARD%d^%d^1" % (rng.choice("IOE"), rng.randint(1, 9),
                                           rng.randint(100, 499))]
        for k in range(n_dg1):
            code, desc = rng.choice(DIAG)
            segs.append("DG1|%d||%s^%s^I10||%s|A" % (k + 1, code, desc, _ts(rng)))
        return segs, 1, 0, n_dg1
    n_obx = rng.randint(0, 30)
    segs = [_msh(rng, "ORU^R01", ctrl, version), _pid(rng, i),
            "OBR|1|P%d|F%d|CBC^Panel^L|||%s" % (i, i, _ts(rng))]
    for k in range(n_obx):
        if blob_bytes and k == 0:
            segs.append("OBX|1|FT|RTF^Report^L||%s||||||F" % _rtf(rng, blob_bytes))
            continue
        code, label, units, vt = rng.choice(LABS)
        value = ("%.1f" % rng.uniform(1, 300)) if vt == "NM" else "see note %d" % k
        segs.append("OBX|%d|%s|%s^%s^LN||%s|%s|||N|||F" % (k + 1, vt, code, label, value, units))
    return segs, 1, n_obx, 0


def _invalid(rng, i):
    """One planted parse error, unique through its control id."""
    kind = i % 3
    if kind == 0:  # unsupported version
        return [_msh(rng, "ADT^A01", "E%08d" % i, "9.%d" % rng.randint(0, 9)), _pid(rng, i)]
    if kind == 1:  # no MSH header
        return ["PID|1||MRN%07d||LOST^HEADER|E%08d" % (i, i), "PV1|1|I"]
    # malformed segment id
    return [_msh(rng, "ORU^R01", "E%08d" % i, "2.5"), "O#X|1|NM|bad segment %d" % i]


def msg_id(payload):
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def generate(out_dir, seed, n_messages, n_files, dup_rate=0.05, error_rate=0.02,
             n_blobs=2, blob_bytes=1 << 20, write=True):
    """Write the inbox under `out_dir` (unless write=False) and return the truth."""
    rng = random.Random(seed)
    n_dups = int(round(n_messages * dup_rate))
    n_errors = int(round(n_messages * error_rate))
    n_distinct = n_messages - n_dups
    blob_at = set(rng.sample(range(n_distinct), min(n_blobs, n_distinct)))
    error_at = set(rng.sample(sorted(set(range(n_distinct)) - blob_at),
                              min(n_errors, n_distinct - len(blob_at))))
    distinct, ok_ids, err_ids = [], [], []
    n_pid = n_obx = n_dg1 = 0
    for i in range(n_distinct):
        if i in error_at:
            segs = _invalid(rng, i)
        else:
            blob = blob_bytes if i in blob_at else 0
            while True:  # a blob needs an ORU with at least one OBX
                segs, p, o, d = _valid(rng, i, blob)
                if not blob or o > 0:
                    break
            n_pid, n_obx, n_dg1 = n_pid + p, n_obx + o, n_dg1 + d
        payload = ("\r\n" if rng.random() < 0.5 else "\n").join(segs)
        distinct.append(payload)
        (err_ids if i in error_at else ok_ids).append(msg_id(payload))
    ok_payloads = [p for i, p in enumerate(distinct) if i not in error_at]
    stream = distinct + [rng.choice(ok_payloads) for _ in range(n_dups)]
    rng.shuffle(stream)
    if write:
        os.makedirs(out_dir, exist_ok=True)
        files = [[] for _ in range(n_files)]
        for k, payload in enumerate(stream):
            files[k % n_files].append(payload)
        for f, msgs in enumerate(files):
            sep = "\r\n\r\n" if f % 2 else "\n\n"
            with open(os.path.join(out_dir, "inbox%05d.txt" % f), "w",
                      encoding="utf-8", newline="") as fh:
                fh.write(sep.join(msgs) + "\n")
    return {
        "seed": seed,
        "n_messages": len(stream),
        "n_duplicates": n_dups,
        "input_bytes": sum(len(p.encode("utf-8")) for p in stream),
        "zones": {"ingestion/er7": n_distinct, "staging/json": len(ok_ids),
                  "error/txt": len(err_ids)},
        "views": {"patients": n_pid, "observations": n_obx, "diagnoses": n_dg1},
        "ok_ids": ok_ids,
        "error_ids": err_ids,
    }
