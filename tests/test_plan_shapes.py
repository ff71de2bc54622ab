"""Physical-plan-shape invariants for the r15 optimization round.

These pin the *mechanism* of the landed optimizations, not the output
(output parity is covered by the oracle batteries and the existing
operator tests): if a Spark upgrade or a refactor re-enables the
pathological plan shape, these fail before the bench does.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain(mode="formatted")
    return out.getvalue()


def _node_blocks(plan: str) -> list[str]:
    """The formatted plan's per-node detail blocks, each starting with
    its ``(id) NodeName`` header line."""
    return [b for b in plan.split("\n(") if b.startswith(tuple("0123456789"))]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_curate_batch_twin_gate_stays_above_the_exchange(docs):
    """r15: the quality gate must evaluate POST-exchange via the
    non-materializing pushdown guard — every Filter block that carries
    the gate expression (marker: the 'too_short' reject label) must
    also reference the nondeterministic ``_bar`` guard column. If
    Catalyst ever splits the conjunction or sinks the gate without the
    guard (re-serializing it onto the 1-partition local scan), a
    gate-bearing Filter appears without ``_bar`` and this fails."""
    from methyl_data_pipeline_spark.streaming.events import curate_batch_twin

    plan = _formatted(curate_batch_twin(docs))
    blocks = _node_blocks(plan)
    gate_blocks = [b for b in blocks if "too_short" in b and ") Filter" in b.splitlines()[0]]
    assert gate_blocks, "quality gate filter not found in the plan"
    for b in gate_blocks:
        assert "_bar" in b, (
            "gate filter lost its pushdown guard — it can sink below "
            "the repartition exchange onto the serial scan:\n" + b[:500]
        )
    # the r14 full-width barrier persist must stay gone
    assert "InMemoryRelation" not in plan


def test_curate_plan_has_exactly_one_narrow_persist(docs):
    """r15: plans.curation.curate keeps ONE InMemoryRelation (the
    narrow survivors-only frame) — the r14 full-width corpus barrier
    persist must not come back (VERDICT r14 #1: bimodal at 32 cores,
    materializes the corpus at scale)."""
    from methyl_data_pipeline_spark.plans.curation import curate

    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    plan = _formatted(curate(corpus, bench))
    # distinct cached plans, not reference counts: every occurrence of
    # a second InMemoryRelation introduces a second "cachedPlan" id;
    # the narrow red frame may legitimately be referenced many times.
    import re

    cached_cols = set()
    for ln in plan.splitlines():
        if ln.strip().startswith("Arguments:") and "StorageLevel" in ln:
            # references to one cache render with re-mapped expression
            # ids (#0L vs #56L) — strip them before deduping
            cached_cols.add(re.sub(r"#\d+", "", ln.strip()))
    assert len(cached_cols) <= 1, (
        f"expected at most one distinct persist in the curate plan, "
        f"saw {len(cached_cols)}: {sorted(cached_cols)}"
    )
    # and the full-width text column must not be what is cached: the
    # persisted frame carries only the normalized projection
    for c in cached_cols:
        assert "_norm" in c, f"persisted frame is not the narrow red frame: {c}"


def test_curate_tokenizes_each_document_once(docs):
    """plans.curation.curate splits each document once in the quality
    gate (the split is lambda-bound and shared by all six signals), and
    its decontamination semi-join matches shingle STRINGS built by one
    generated-code regex: no md5 on the shingle side, and no
    interpreted transform(sequence(...)) n-gram builder anywhere."""
    from methyl_data_pipeline_spark.plans.curation import curate

    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    plan = _formatted(curate(corpus, bench))
    blocks = _node_blocks(plan)
    headers = [b.splitlines()[0] for b in blocks]

    gate = [b for b, h in zip(blocks, headers)
            if h.endswith(") Filter") and "too_short" in b]
    assert len(gate) == 1, headers
    assert gate[0].count("split(") == 1, gate[0][:2000]

    generates = [b for b, h in zip(blocks, headers) if h.endswith(") Generate")]
    assert generates, headers
    for b in generates:
        assert "regexp_extract_all(" in b and "md5" not in b, b[:1000]
    semis = [b for b, h in zip(blocks, headers)
             if "Join" in h and "LeftSemi" in b]
    assert semis, headers
    for b in semis:
        assert "md5" not in b, b[:1000]

    assert "transform(sequence(" not in plan


def test_bpe_encode_word_stream_is_spread(docs):
    """r15: bpe_encode repartitions the corpus before the tokenize
    explode, so the token-stream-sized posexplode + cache fill never
    run on the single-partition local scan."""
    from methyl_data_pipeline_spark.ext.text import bpe_encode

    plan = _formatted(bpe_encode(docs, [("t", "h")]))
    assert "hashpartitioning(doc_id" in plan, (
        "bpe_encode lost the word-stream spread — the tokenize explode "
        "will serialize on a 1-partition scan"
    )


def test_idat_ingest_decodes_each_file_once(spark, tmp_path):
    """Both probe designs come from ONE decode of the IDAT files: the
    beta plan holds one binaryFile scan, one Python map node and one
    hash-partitioning exchange (the aggregate's). A per-design join
    would repeat the scan and the decoder."""
    from methyl_data_pipeline_spark.io.idat import betas_from_intensities, decode_idat
    from methyl_data_pipeline_spark.io.readers import read_idat_dir
    from test_idat import make_idat

    addresses = np.arange(10, dtype="<i4")
    for name in ["S1_Grn", "S1_Red"]:
        (tmp_path / f"{name}.idat").write_bytes(
            make_idat(addresses, addresses.astype("<u2"))
        )
    manifest = spark.createDataFrame(
        [("cg1", "II", None, 1, 1), ("cg2", "I", "Red", 2, 3)],
        "probe_id string, design_type string, color string, "
        "address_m long, address_u long",
    )
    betas = betas_from_intensities(
        decode_idat(read_idat_dir(spark, str(tmp_path))), manifest
    )
    blocks = _node_blocks(_formatted(betas))
    headers = [b.splitlines()[0] for b in blocks]
    hash_exchanges = [
        b for b, h in zip(blocks, headers)
        if h.endswith(") Exchange") and "hashpartitioning(" in b
    ]
    assert sum("Scan binaryFile" in h for h in headers) == 1, headers
    assert sum("MapIn" in h for h in headers) == 1, headers
    assert len(hash_exchanges) == 1, headers
