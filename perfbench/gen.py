"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, size): one
`numpy.random.Generator(PCG64(seed))` drives all draws, files are written
with pyarrow in a fixed order, and the same arguments give byte-identical
files. Generation runs in the benchmark process, single-threaded, and no
metric counts its time. The program under test only ever sees the files.

Traffic dimensions (also listed in perfbench/README.md):

* text: words drawn one by one from the sf0.1 `documents` vocabulary with
  its frequencies (`VOCAB`), lengths uniform over sf0.1's 10..100 words.
  No sampled text repeats inside an input (checked, re-drawn on
  collision), so a cache keyed on text cannot hit; only label's anomaly
  rows (NULL, "hi", symbol soup) share their text, as in
  sources/transcripts.py.
* label: the `sources/transcripts.py` anomaly schedule applied to a seeded
  permutation of row ids (same shares: PII %31/%37, toxic %41, tool
  mismatch %43, bad role %53, duplicate key %61, NULL text %71, short
  %73, symbol soup %79, negative turn_idx %89, NULL ts %101).
  Conversation lengths are Pareto-tailed (`CONV_ALPHA`, capped at
  `CONV_MAX`).
* curate: `SHARED_EVERY` — one doc in 13 carries the seed's 40-word shared
  paragraph at a random word offset; hosts: `HOT_SHARE` on one hot host,
  `BLOCKED_SHARE` on blocklisted hosts, the rest Zipf(`ZIPF_A`) over
  `TAIL_HOSTS` hosts.
* ingest: invalid shares per 100 records in `INGEST_SCHEDULE`.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 documents vocabulary with its word counts (documents.parquet,
# 5000 docs, 270k words; 'dup' is the fixture's rare marker word)
VOCAB = {
    "a": 8877, "agg": 8912, "batch": 8829, "big": 9057, "column": 9127,
    "customer": 9017, "data": 9104, "dup": 255, "fast": 8926,
    "filter": 9063, "group": 9040, "hash": 9024, "join": 9080,
    "key": 8893, "line": 8951, "merge": 9157, "order": 8971, "part": 8929,
    "query": 8881, "row": 8925, "scan": 8863, "slow": 8960, "small": 9100,
    "sort": 9005, "spark": 9182, "stream": 9117, "table": 9144,
    "the": 8925, "value": 9112, "vector": 9119, "window": 9159,
}
MIN_WORDS, MAX_WORDS = 10, 100  # sf0.1 doc length range (words)
# sf0.1 language mix of `documents.lang`
LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}

# label: sources/transcripts.py payloads, same strings
PII1 = " contact me at john.doe@example.com or 555-123-4567"
PII2 = " my ip is 10.0.0.42 and ssn 123-45-6789 see https://ex.com/a?b=1"
TOX = " you frakk"
SHORT = "hi"
SOUP = "@@@ ### $$$ %%% ^^^ &&&"
CONV_ALPHA = 1.3   # Pareto tail index of conversation length
CONV_MAX = 2000    # turns in the longest possible conversation
LABEL_FILES = 32   # part files -> 2 chunks at files_per_chunk=16
FILES_PER_CHUNK = 16

# curate
SHARED_EVERY = 13       # 1 doc in 13 carries the shared paragraph
SHARED_WORDS = 40
HOT_SHARE = 0.30
BLOCKED_SHARE = 0.05
BLOCKED_HOSTS = tuple(f"spam{k}.blocked.example" for k in range(20))
HOT_HOST = "hot.example.com"
TAIL_HOSTS = 5000
ZIPF_A = 1.1
CURATE_FILES = 16

# ingest: residue of (aid % 100) -> injected defect, expected violations
INGEST_SCHEDULE = (
    (range(0, 2), "malformed", ["malformed"]),
    (range(2, 4), "unknown_field", ["unknown_field"]),
    (range(4, 6), "type_mismatch", ["type_mismatch"]),
    (range(6, 8), "missing_role", ["missing_field"]),
    (range(8, 11), "double_encoded", []),
)
INGEST_FILES = 8

_WORDS = np.array(list(VOCAB), dtype=object)
_P = np.array(list(VOCAB.values()), dtype=np.float64)
_P /= _P.sum()


def row_fingerprint(cols: dict) -> str:
    """Order-independent fingerprint of a multiset of rows: the count and
    the wrapping uint64 sum of per-row hashes. Integer columns are hashed
    as int64 and everything else as Python objects, so a pyarrow column
    and a Python list of the same values agree."""
    df = pd.DataFrame({
        k: (pd.array(v, dtype="Int64") if _is_int(v) else
            pd.Series(list(v), dtype=object))
        for k, v in cols.items()})
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return f"{len(h)}:{int(h.sum(dtype=np.uint64)):016x}"


def _is_int(v) -> bool:
    first = next((x for x in v if x is not None), None)
    return (isinstance(first, (int, np.integer))
            and not isinstance(first, bool))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct word-sampled texts."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=k)
        idx = rng.choice(len(_WORDS), size=int(lens.sum()), p=_P)
        words = _WORDS[idx]
        ends = np.cumsum(lens)
        start = 0
        for e in ends:
            t = " ".join(words[start:e])
            start = e
            if t not in seen:
                seen.add(t)
                out.append(t)
    return out


def _conv_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    lens: list[int] = []
    total = 0
    while total < n:
        x = int(min(CONV_MAX, np.floor(rng.pareto(CONV_ALPHA) * 3) + 1))
        x = min(x, n - total)
        lens.append(x)
        total += x
    return np.array(lens, dtype=np.int64)


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="snappy")


def gen_label(rng: np.random.Generator, n: int, out_dir: str) -> dict:
    """Transcript table (schema.TRANSCRIPT_SCHEMA) in LABEL_FILES parts."""
    aid = rng.permutation(n)
    lens = _conv_lengths(rng, n)
    conv = np.repeat(np.arange(len(lens)), lens)
    starts = np.cumsum(lens) - lens
    turn = np.arange(n) - np.repeat(starts, lens)
    base = _texts(rng, n)

    roles = np.array(["user", "assistant", "system", "tool"], dtype=object)
    role = roles[aid % 4]
    role[aid % 53 == 0] = "robot"
    tool = np.where(aid % 4 == 3, "search", None).astype(object)
    tool[aid % 43 == 0] = "hammer"
    turn_idx = np.where(aid % 61 == 0, turn + 1, turn)
    turn_idx = np.where(aid % 89 == 0, -1, turn_idx).astype(np.int32)
    text = []
    for a, t in zip(aid.tolist(), base):
        if a % 71 == 0:
            text.append(None)
        elif a % 79 == 0:
            text.append(SOUP)
        elif a % 73 == 0:
            text.append(SHORT)
        else:
            text.append(t + (PII1 if a % 31 == 0 else "")
                        + (PII2 if a % 37 == 0 else "")
                        + (TOX if a % 41 == 0 else ""))
    ts = (1_700_000_000 + np.arange(n, dtype=np.int64)) * 1_000_000
    ts_mask = aid % 101 == 0
    table = pa.table({
        "conv_id": pa.array([f"c{c}" for c in conv.tolist()], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC"), mask=ts_mask),
    })
    _write_parts(table, out_dir, LABEL_FILES)
    return {"rows": n, "conversations": int(len(lens)),
            "max_conv_len": int(lens.max())}


def gen_curate(rng: np.random.Generator, n: int, out_dir: str) -> dict:
    """Documents table (doc_id, text, lang, url) in CURATE_FILES parts."""
    aid = rng.permutation(n)
    doc_id = rng.choice(10 * n, size=n, replace=False).astype(np.int64)
    shared = _texts(rng, 1)[0].split(" ")
    while len(shared) < SHARED_WORDS:
        shared += _texts(rng, 1)[0].split(" ")
    shared = shared[:SHARED_WORDS]
    base = _texts(rng, n)
    text = []
    for a, t in zip(aid.tolist(), base):
        if a % SHARED_EVERY == 0:
            ws = t.split(" ")
            at = int(rng.integers(0, len(ws) + 1))
            t = " ".join(ws[:at] + shared + ws[at:])
        text.append(t)
    langs = np.array(list(LANGS), dtype=object)
    lp = np.array(list(LANGS.values()), dtype=np.float64)
    lang = langs[rng.choice(len(langs), size=n, p=lp / lp.sum())]
    u = rng.random(n)
    tail = np.minimum(rng.zipf(ZIPF_A, size=n), TAIL_HOSTS) - 1
    blocked = rng.integers(0, len(BLOCKED_HOSTS), size=n)
    hosts = []
    for i in range(n):
        if u[i] < HOT_SHARE:
            hosts.append(HOT_HOST)
        elif u[i] < HOT_SHARE + BLOCKED_SHARE:
            hosts.append(BLOCKED_HOSTS[blocked[i]])
        else:
            hosts.append(f"site{tail[i]}.example.org")
    url = [f"https://{h}/p/{d}" for h, d in zip(hosts, doc_id.tolist())]
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "url": pa.array(url, pa.string()),
    })
    _write_parts(table, out_dir, CURATE_FILES)
    return {"rows": n, "shared_docs": int((aid % SHARED_EVERY == 0).sum()),
            "hot_docs": int((u < HOT_SHARE).sum())}


def gen_ingest(rng: np.random.Generator, n: int, out_dir: str) -> dict:
    """JSONL transcript records (sources/jsonl.TRANSCRIPT_SPEC) plus the
    generator's ground truth: per-reason counts and the valid rows."""
    aid = rng.permutation(n)
    texts = _texts(rng, n)
    roles = ("user", "assistant", "system", "tool")
    lines, reasons = [], {}
    valid_rows = []
    kind_of = {r: (name, v) for rg, name, v in INGEST_SCHEDULE for r in rg}
    for i, (a, t) in enumerate(zip(aid.tolist(), texts)):
        role = roles[a % 4]
        rec = {"conv_id": f"c{i // 8}", "turn_idx": i % 8, "role": role,
               "text": t, "tool": "search" if role == "tool" else None,
               "ts_epoch": 1_700_000_000 + i}
        kind, viol = kind_of.get(a % 100, ("ok", []))
        if kind == "unknown_field":
            rec["bogus"] = 1
        elif kind == "type_mismatch":
            rec["turn_idx"] = f"x{i % 8}"
        elif kind == "missing_role":
            del rec["role"]
        line = json.dumps(rec, separators=(",", ":"))
        if kind == "malformed":
            line = line[:-1]
        elif kind == "double_encoded":
            line = json.dumps(line)
        lines.append(line)
        for r in viol:
            reasons[r] = reasons.get(r, 0) + 1
        if not viol:
            valid_rows.append((rec["conv_id"], rec["turn_idx"], t))
    bounds = np.linspace(0, n, INGEST_FILES + 1).astype(int)
    for k in range(INGEST_FILES):
        with open(os.path.join(out_dir, f"part-{k:05d}.jsonl"), "w",
                  encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines[bounds[k]:bounds[k + 1]]) + "\n")
    cols = list(zip(*valid_rows))
    return {"rows": n, "valid": len(valid_rows), "reasons": reasons,
            "valid_fp": row_fingerprint({"conv_id": cols[0],
                                         "turn_idx": cols[1],
                                         "text": cols[2]})}


GENERATORS = {"label": gen_label, "curate": gen_curate,
              "ingest": gen_ingest}


def materialize(root: str, workload: str, seed: int, size: int,
                keep: int = 12) -> tuple[str, dict]:
    """(input dir, generator facts) for (workload, seed, size), generating
    into a temp dir and renaming on first use. Older cached inputs of the
    workload beyond the `keep` most recent are removed."""
    base = os.path.join(root, "inputs")
    final = os.path.join(base, f"{workload}-s{seed}-n{size}")
    facts_path = os.path.join(final, "_facts.json")
    if not os.path.exists(facts_path):
        tmp = os.path.join(base, f".tmp-{uuid.uuid4().hex}")
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        rng = np.random.Generator(np.random.PCG64(seed))
        facts = GENERATORS[workload](rng, size, data)
        with open(os.path.join(tmp, "_facts.json"), "w") as fh:
            json.dump(facts, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    os.utime(final)
    mine = sorted((e for e in os.scandir(base)
                   if e.name.startswith(f"{workload}-")),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for e in mine[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)
    with open(facts_path) as fh:
        return os.path.join(final, "data"), json.load(fh)
