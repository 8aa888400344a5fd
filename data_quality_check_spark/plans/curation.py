"""Composable corpus-curation plan: the full web-curation chain as one
public API (the library form of the `corpus_curation_web` gate, which
oracle-checks this exact composition end to end).

Stages, each an already-oracled public operator, each optional:

  1. heuristic quality filter        (textstats.quality_filter; then
                                      textstats.quality_model_filter
                                      when a model is given)
  2. host extraction + blocklist +
     per-domain doc caps             (operators/domains.py)
  3. span-level dedup                (dedup.dedup_spans — content-defined
                                      chunks, offset-invariant)
  4. per-stratum balancing           (sampling.stratified_sample)
  5. shard packing under the BPE
     subword budget                  (textstats.bpe_token_estimate +
                                      sampling.pack_shards)

Everything stays one lazy DataFrame chain except the documented
materialization points: the span table checkpoint and pack_shards
offsets inside the operators, and two lazy checkpoints here, each placed
where its frame gains a second consumer — the filtered, domain-capped
docs before span dedup (read by the span checkpoint, dedup_spans'
doc_id join-back and the text join-back), and the token-counted table
before shard packing. So each stage runs once per job: every surviving
doc crosses the quality model's Python boundary once, and the input is
scanned once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_RULESET, RuleSet


def curate_corpus(
    docs: DataFrame,
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    blocked_hosts: list[str] | None = None,
    domain_cap: int | None = None,
    span_dedup: bool = True,
    strata_col: str = "lang",
    strata_fracs: dict[str, float] | None = None,
    strata_default: float = 1.0,
    budget: int | None = None,
    quality_model_bc=None,
    min_quality: float | None = None,
) -> DataFrame:
    """Curate a documents table (doc_id, text[, lang, url]).

    Returns the surviving docs with `text_deduped` (when span_dedup),
    `host` (when domain stages ran), and `n_tokens`/`shard_id` (when
    `budget` is set — BPE subword units). Domain stages require a `url`
    column; balancing requires `strata_col`.

    quality_model_bc: a broadcast_models() handle — when given, the
    LEARNED quality classifier (models/quality.py) filters docs scoring
    below `min_quality` (default quality.THRESHOLD) right after the
    heuristic stage, the CCNet/FineWeb gate order (cheap rules first,
    model score second, dedup last)."""
    from ..operators import dedup, domains, sampling, textstats

    cur = textstats.quality_filter(docs, cfg)
    if quality_model_bc is not None:
        cur = textstats.quality_model_filter(cur, quality_model_bc,
                                             threshold=min_quality)

    if blocked_hosts is not None or domain_cap is not None:
        cur = domains.with_host(cur)
        if blocked_hosts:
            cur = domains.blocklist_filter(cur, blocked_hosts)
        if domain_cap:
            cur = domains.domain_caps(cur, domain_cap)

    text_col = "text"
    if span_dedup:
        # dedup_spans' eager span checkpoint, its own doc_id join-back and
        # the text join below all read `cur`: a lazy checkpoint runs the
        # quality→model→domains chain ONCE (the span checkpoint
        # materializes it) instead of once per consumer
        cur = cur.localCheckpoint(eager=False)
        sd = dedup.dedup_spans(cur.select("doc_id", "text"))
        cur = (cur.drop("text")
               .join(sd.select("doc_id", "text_deduped"), "doc_id"))
        text_col = "text_deduped"

    if strata_fracs:
        cur = sampling.stratified_sample(cur, "doc_id", strata_col,
                                         strata_fracs, strata_default)

    if budget:
        # single-pass tail (r6): pack_shards' offsets job and the final
        # join-back both consume the curated table — a lazy checkpoint
        # runs the chain above it ONCE (the offsets job materializes it)
        # instead of once per consumer.
        # Same discipline as the operators' own multi-consumer
        # intermediates (dedup_spans' span table).
        t = cur.withColumn(
            "n_tokens", textstats.bpe_token_estimate(F.col(text_col))
        ).localCheckpoint(eager=False)
        packed = sampling.pack_shards(t.select("doc_id", "n_tokens"),
                                      budget=budget)
        cur = packed.join(t.drop("n_tokens"), "doc_id")
    return cur
