"""Expected values (computed once per input, cached beside it) and the
per-launch output checks that feed `failed` / `error_rate`.

* label: output turns equal input turns as a multiset of (conv_id,
  turn_idx, text); every row's keep, drop_reasons, text_scrubbed, lang,
  lang_conf and ppl equal the DuckDB twin (`rules.*_sql`, `scrub_sql`, the
  duplicate key counted per run_job chunk) joined with an in-process
  `score_batch`; keep and per-reason counts match; the metrics table's
  totals equal the output's keep/drop and per-reason counts.
* curate: output ⊆ input, no blocked host, no host over the cap, every
  shard's tokens minus its straddling last doc ≤ budget, and an output
  fingerprint pinned by the first launch on the input.
* ingest: valid and per-reason counts equal both the generator's ground
  truth and `jsonl.validation_oracle_sql_over`; the output rows equal the
  generator's valid rows.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import launch

EXPECTED = "_expected.json"


def expected(workload: str, inp: str, facts: dict) -> dict:
    path = os.path.join(os.path.dirname(inp), EXPECTED)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    exp = {"label": _label_expected, "curate": _curate_expected,
           "ingest": _ingest_expected}[workload](inp, facts)
    exp["input_bytes"] = sum(os.path.getsize(p)
                             for p in glob.glob(os.path.join(inp, "part-*")))
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(exp, fh)
    os.replace(tmp, path)
    return exp


def check(workload: str, inp: str, out: str, exp: dict,
          launch_rec: dict) -> list[str]:
    """Problems found in one job's output; empty when correct."""
    return {"label": _label_check, "curate": _curate_check,
            "ingest": _ingest_check}[workload](inp, out, exp, launch_rec)


def output_bytes(out: str) -> int:
    """Bytes the job wrote: data, metrics and manifest files, not the
    local filesystem's .crc sidecars or _SUCCESS markers."""
    total = 0
    for d, _dirs, files in os.walk(out):
        for f in files:
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(d, f))
    return total


# -- label --------------------------------------------------------------------

_LABEL_COLS = ("conv_id", "turn_idx", "text", "keep", "reasons",
               "text_scrubbed", "lang", "lang_conf", "ppl")


def _label_expected(inp: str, facts: dict) -> dict:
    from data_quality_check_spark.config import DEFAULT_RULESET as cfg
    from data_quality_check_spark.functions import rules, scrub
    from data_quality_check_spark.models import langid, ngram
    from data_quality_check_spark.models.scoring import score_batch

    files = sorted(glob.glob(os.path.join(inp, "part-*.parquet")))
    parts = []
    for i, f in enumerate(files):
        t = pq.read_table(f)
        parts.append(t.append_column(
            "chunk", pa.array([i // gen.FILES_PER_CHUNK] * t.num_rows,
                              pa.int32())))
    t = pa.concat_tables(parts)
    lang, conf, ppl = score_batch(t.column("text").to_pylist(),
                                  langid.train(), ngram.train())
    t = (t.append_column("_lang", pa.array(list(lang), pa.string()))
         .append_column("_conf", pa.array(conf, pa.float64()))
         .append_column("_ppl", pa.array(ppl, pa.float64())))
    feats = rules.feature_sql()
    flags = (rules.validation_flags_sql(cfg)
             + rules.heuristic_flags_sql(cfg, {k: k for k in feats})
             + [("lang_conf", f"text IS NOT NULL AND _conf < "
                              f"{cfg.min_lang_conf}"),
                ("perplexity", f"text IS NOT NULL AND _ppl > "
                               f"{cfg.max_perplexity}")])
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.register("src", t)
    # features and reasons materialized once per row, each in its own CTE
    out = con.execute(f"""
        WITH f AS (
          SELECT *, {", ".join(f"{e} AS {k}" for k, e in feats.items())},
            count(*) OVER (PARTITION BY chunk, conv_id, turn_idx) AS dup_count
          FROM src),
        r AS (SELECT *, {rules.reasons_sql(flags)} AS _r FROM f)
        SELECT conv_id, turn_idx, text,
          len(_r) = 0 AS keep,
          list_aggregate(_r, 'string_agg', ',') AS reasons,
          {scrub.scrub_sql('text')} AS text_scrubbed,
          _lang AS lang, _conf AS lang_conf, _ppl AS ppl
        FROM r""").arrow()
    con.close()
    return {"rows": t.num_rows, "input_fp": _fp(t, _LABEL_COLS[:3]),
            "label_fp": _fp(out, _LABEL_COLS), **_label_counts(out)}


def _label_counts(t: pa.Table) -> dict:
    keep = t.column("keep").to_pylist()
    per = Counter(r for s in t.column("reasons").to_pylist() if s
                  for r in s.split(","))
    return {"kept": sum(keep), "dropped": len(keep) - sum(keep),
            "reasons": dict(sorted(per.items()))}


def _committed(out: str, sub: str) -> pa.Table:
    mdir = os.path.join(out, "_manifest")
    ids = []
    for n in sorted(os.listdir(mdir)):
        if n.endswith(".json"):
            with open(os.path.join(mdir, n)) as fh:
                ids.append(json.load(fh)["chunk_id"])
    files = [f for i in ids for f in sorted(glob.glob(
        os.path.join(out, sub, f"chunk={i}", "*.parquet")))]
    return pa.concat_tables(pq.read_table(f) for f in files)


def _label_check(inp, out, exp, _rec) -> list[str]:
    t = _committed(out, "turns")
    reasons = pa.array([",".join(r) if r else None
                        for r in t.column("drop_reasons").to_pylist()],
                       pa.string())
    t = t.append_column("reasons", reasons)
    got = _label_counts(t)
    bad = []
    if _fp(t, _LABEL_COLS[:3]) != exp["input_fp"]:
        bad.append("label: output turns differ from input turns")
    if _fp(t, _LABEL_COLS) != exp["label_fp"]:
        bad.append("label: labels/scrub/scores differ from the twin")
    for k in ("kept", "dropped", "reasons"):
        if got[k] != exp[k]:
            bad.append(f"label: {k} {got[k]} != expected {exp[k]}")
    m = _committed(out, "metrics")
    tot = {k: pc.sum(m.column(k)).as_py()
           for k in ("n_turns", "n_kept", "n_dropped")}
    if (tot["n_turns"], tot["n_kept"], tot["n_dropped"]) != (
            t.num_rows, got["kept"], got["dropped"]):
        bad.append(f"label: metrics totals {tot} != output counts")
    mr = Counter()
    for row in m.column("reason_counts").to_pylist():
        for k, v in row:
            mr[k] += v
    if {k: v for k, v in mr.items() if v} != got["reasons"]:
        bad.append("label: metrics reason counts != output reason counts")
    return bad


# -- curate -------------------------------------------------------------------

def _curate_expected(inp: str, facts: dict) -> dict:
    return {"rows": facts["rows"]}


def _curate_check(inp, out, exp, _rec) -> list[str]:
    src = pq.read_table(inp, columns=["doc_id", "lang", "url"])
    t = pq.read_table(out)
    bad = []
    got = {r["doc_id"]: (r["lang"], r["url"])
           for r in t.select(["doc_id", "lang", "url"]).to_pylist()}
    want = {r["doc_id"]: (r["lang"], r["url"]) for r in src.to_pylist()}
    if len(got) != t.num_rows or t.num_rows == 0:
        bad.append(f"curate: {t.num_rows} rows, {len(got)} distinct ids")
    if any(want.get(k) != v for k, v in got.items()):
        bad.append("curate: output rows not in the input")
    hosts = Counter(t.column("host").to_pylist())
    if set(hosts) & set(gen.BLOCKED_HOSTS):
        bad.append("curate: blocked host in output")
    if max(hosts.values(), default=0) > launch.DOMAIN_CAP:
        bad.append(f"curate: host over cap {hosts.most_common(1)}")
    shards: dict[int, list[tuple[int, int]]] = {}
    for r in t.select(["doc_id", "n_tokens", "shard_id"]).to_pylist():
        shards.setdefault(r["shard_id"], []).append(
            (r["doc_id"], r["n_tokens"]))
    for sid, docs in shards.items():
        docs.sort()
        if sum(n for _, n in docs[:-1]) > launch.BUDGET:
            bad.append(f"curate: shard {sid} over budget")
            break
    fp = _fp(t, ("doc_id", "text_deduped", "host", "n_tokens", "shard_id"))
    pin = os.path.join(os.path.dirname(inp), "_pinned_fp")
    if not bad and not os.path.exists(pin):
        with open(pin, "w") as fh:
            fh.write(fp)
    if os.path.exists(pin):
        with open(pin) as fh:
            if fh.read() != fp:
                bad.append("curate: output fingerprint differs from the "
                           "pinned one")
    return bad


# -- ingest -------------------------------------------------------------------

def _ingest_expected(inp: str, facts: dict) -> dict:
    from data_quality_check_spark.sources import jsonl

    lines = []
    for f in sorted(glob.glob(os.path.join(inp, "part-*.jsonl"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    con = duckdb.connect()
    con.register("src", pa.table({"doc_id": pa.array(range(len(lines))),
                                  "raw": pa.array(lines, pa.string())}))
    rows = con.execute(jsonl.validation_oracle_sql_over(
        "SELECT doc_id, raw FROM src", "role", "user",
        jsonl.TRANSCRIPT_SPEC)).fetchall()
    con.close()
    # the job checks presence of `role` only: the oracle's required-value
    # arm (field_mismatch for role != 'user') is not part of it
    per, valid = Counter(), 0
    for _doc, viol, _ok in rows:
        rs = [r for r in viol.split(",") if r and r != "field_mismatch"]
        per.update(rs)
        valid += not rs
    oracle = {"valid": valid, "reasons": dict(sorted(per.items()))}
    truth = {"valid": facts["valid"],
             "reasons": dict(sorted(facts["reasons"].items()))}
    if oracle != truth:
        raise RuntimeError(f"ingest: DuckDB oracle {oracle} disagrees with "
                           f"the generator's ground truth {truth}")
    return {"rows": facts["rows"], **truth, "valid_fp": facts["valid_fp"]}


def _ingest_check(inp, out, exp, rec) -> list[str]:
    t = pq.read_table(out)
    bad = []
    if _fp(t, ("conv_id", "turn_idx", "text")) != exp["valid_fp"]:
        bad.append("ingest: output rows differ from the valid records")
    sv = rec.get("spark_validation", {})
    got = {"valid": sv.get("valid"),
           "reasons": dict(sorted(sv.get("reasons", {}).items()))}
    if got != {"valid": exp["valid"], "reasons": exp["reasons"]}:
        bad.append(f"ingest: validation counts {got} != expected")
    return bad


def _fp(t: pa.Table, cols) -> str:
    return gen.row_fingerprint({c: t.column(c).to_pylist() for c in cols})
