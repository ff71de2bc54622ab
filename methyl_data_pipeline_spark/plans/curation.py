"""End-to-end corpus-curation pipeline — the pretraining-data twin of
``plans.pipeline`` (which mirrors the reference's ``workflow.R``).

Stage chain, the standard order of an LLM-data pipeline:

1. **Quality gate** — C4/Gopher verdict (``ext.text.quality_reject_reasons``,
   a per-row filter) drops boilerplate/degenerate docs first so every
   later stage touches less data.
2. **PII redaction** — emails/IPs/phones replaced with typed tokens
   (pure ``regexp_replace`` chain, still scan-side).
3. **Decontamination** — docs sharing any word-5-gram with the
   benchmark set are dropped (broadcast semi-join on shingle strings).
4. **Exact dedup** — md5-fingerprint min-id winner (the semantics of
   ``ext.dedup.dedup_exact``, one shuffle).
5. **Packing** — survivors laid end-to-end per source shard and cut
   into fixed-token context windows (``ext.pack.pack_sequences``, one
   shuffle per shard window).

Physical cost per document:

- the quality gate splits each document's words ONCE (a lambda-bound
  split shared by all six signals), above the input spread;
- redaction + normalization run once, into the one persisted frame —
  ``(id, shard, _norm)`` for gate survivors only;
- the shingles of that normalized body are one generated-code
  ``regexp_extract_all`` (``ext.dedup.shingles_from_norm``), exploded
  and broadcast-semi-joined on the shingle STRING against the
  benchmark's distinct shingles (the SQL reference's ``c.g = b.g``);
- the dedup shuffle carries ``(id, shard, n_tokens, fingerprint)`` —
  not the body — and the pack shuffles once per shard window.

Every filter happens before the dedup shuffle, so the expensive
stages see only surviving documents. The whole chain is deterministic
(md5 keys, min-id winners, id-ordered packing) and therefore
DuckDB-oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from methyl_data_pipeline_spark import cache
from methyl_data_pipeline_spark.ext.pack import pack_sequences
from methyl_data_pipeline_spark.ext.text import (
    PII_PATTERNS,
    quality_reject_reasons,
)


def redact_pii_text(col: Column) -> Column:
    """The PII replacement chain of ``ext.text.pii_redact``, exposed as
    a column transform so pipelines can keep the redacted body."""
    red = col
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return red


def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    window_tokens: int = 512,
    ngram_n: int = 5,
) -> DataFrame:
    """Run the five-stage curation chain; returns per-doc window
    placement for the surviving corpus: (shard, id, n_tokens, bin_idx,
    bin_offset, spans_boundary)."""
    from methyl_data_pipeline_spark.ext.dedup import _spread, shingles_from_norm
    from methyl_data_pipeline_spark.ext.text import benchmark_shingles, md5_long
    from methyl_data_pipeline_spark.functions.scalar import normalize_label

    # _spread first: a single-file local scan would run the gate and
    # normalize regex chain on ONE core. A bare repartition is not
    # enough — Catalyst pushes the deterministic gate back through the
    # exchange onto the 1-partition scan — so an always-true conjunct on
    # the nondeterministic spark_partition_id() pins the gate above it
    # without materializing the corpus.
    kept = (
        _spread(docs, id_col)
        .withColumn("_bar", F.spark_partition_id())
        .filter(
            (quality_reject_reasons(text_col=text_col) == F.lit(""))
            & (F.col("_bar") >= 0)
        )
    )
    # the one persist: survivors' redacted + normalized bodies, read by
    # both the shingle explode and the dedup key
    norm = normalize_label(redact_pii_text(F.col(text_col)))
    red = cache.track(
        kept.select(F.col(id_col), F.col(shard_col), norm.alias("_norm"))
    )
    # decontamination as a direct anti-join on contaminated ids (the
    # per-doc overlap count of ext.text.decontaminate is not needed)
    bench_sh = F.broadcast(benchmark_shingles(benchmark, text_col, ngram_n))
    contaminated = (
        red.select(
            F.col(id_col),
            F.explode(shingles_from_norm(F.col("_norm"), ngram_n)).alias("_s"),
        )
        .join(bench_sh, "_s", "left_semi")
        .select(id_col)
        .distinct()
    )
    clean = red.join(contaminated, id_col, "left_anti")
    # exact dedup: min-id winner as a fingerprint-partitioned
    # row_number — ONE shuffle, carrying only the narrow row
    keyed = clean.select(
        F.col(id_col),
        F.col(shard_col),
        F.size(F.split(F.col("_norm"), " ")).cast("long").alias("n_tokens"),
        md5_long(F.col("_norm")).alias("_fp"),
    )
    w = Window.partitionBy("_fp").orderBy(id_col)
    toks = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )
    return pack_sequences(
        toks, "n_tokens", window_tokens, id_col=id_col, shard_col=shard_col
    )
