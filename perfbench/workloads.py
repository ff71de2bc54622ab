"""The three workloads: the composite entry point a user calls (timed),
the same stages called one at a time under trace spans, and the
collection of outputs the correctness checks need.

Each workload object holds its lazily-read inputs. ``run`` is the timed
call: it starts at the library entry point and returns once the complete
result is materialized (DataFrames through the ``noop`` sink, small
driver results collected, files written). ``check`` collects what the
checks compare, outside the clock; ``release`` restores the session to
its starting state.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from methyl_data_pipeline_spark import cache, model
from methyl_data_pipeline_spark.ext.dedup import dedup_exact
from methyl_data_pipeline_spark.ext.pack import pack_sequences
from methyl_data_pipeline_spark.ext.text import decontaminate, quality_reject_reasons
from methyl_data_pipeline_spark.functions.scalar import normalize_label
from methyl_data_pipeline_spark.io.idat import betas_from_intensities
from methyl_data_pipeline_spark.io.readers import decode_idat, read_idat_dir
from methyl_data_pipeline_spark.io.writers import write_parquet_by_run
from methyl_data_pipeline_spark.operators import qc
from methyl_data_pipeline_spark.plans.curation import curate, redact_pii_text
from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline
from methyl_data_pipeline_spark.stats.bh import bh_adjust_scalable
from methyl_data_pipeline_spark.stats.bmiq import bmiq_normalize
from methyl_data_pipeline_spark.stats.combat import combat
from methyl_data_pipeline_spark.stats.feature_selection import select_probes, top_k_variable_probes
from methyl_data_pipeline_spark.stats.limma import moderated_t_two_group
from methyl_data_pipeline_spark.stats.pca import pca_scores

from perfbench import checks


def noop(df) -> None:
    """Materialize every row and column of ``df`` without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


def persisted_count(spark) -> int:
    """RDDs the session still holds persisted."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class _Staged:
    """Stage outputs persisted at their boundaries during a traced pass."""

    def __init__(self):
        self.frames = []

    def keep(self, df):
        df = df.persist()
        noop(df)
        self.frames.append(df)
        return df

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames.clear()
        cache.release_all()


class EpicCohort:
    """``plans.pipeline.run_methylation_pipeline`` with BMIQ, ComBat,
    top-k, PCA (k=3) and a WT-vs-KO moderated-t DMP table."""

    name = "epic_cohort"
    composite = "plans.pipeline"
    # untimed calls before the timed ones: none, one call takes most of a
    # minute, so wall_s is the first call after set-up, as in a batch job
    warmup_calls = 0
    top_k = 1_000
    dmp_groups = ("genotype", "WT", "KO")

    def __init__(self, spark, path: str, truth: dict, work_dir: str):
        self.spark = spark
        self.truth = truth
        self.meth = spark.read.parquet(os.path.join(path, "meth"))
        self.probes = spark.read.parquet(os.path.join(path, "probes.parquet"))
        self.samples = spark.read.parquet(os.path.join(path, "samples.parquet"))

    def prepare(self) -> None:
        pass

    def run(self):
        res = run_methylation_pipeline(
            self.meth, self.probes, self.samples,
            top_k=self.top_k, pca_k=3, dmp_groups=self.dmp_groups,
        )
        for df in (res.qc_meth, res.normalized, res.top_k, res.dmp):
            noop(df)
        scores = res.pca.collect()
        return res.qc_meth, res.dmp, scores, [res.qc_meth, res.normalized]

    def check(self, out) -> list[str]:
        qc_meth, dmp, scores, _ = out
        samples = [r[0] for r in qc_meth.select("sample_id").distinct().collect()]
        probes = [r[0] for r in qc_meth.select("probe_id").distinct().collect()]
        table = dmp.select("probe_id", "p_value", "adj_p").toPandas()
        recall, fdp = checks.dmp_recall_fdp(self.truth, table)
        print(f"[{self.name}] planted DMP recall {recall:.3f}, false-discovery proportion {fdp:.3f}",
              file=sys.stderr)
        return checks.check_epic(self.truth, samples, probes, table, len(scores))

    def release(self, out) -> None:
        for df in out[3]:
            df.unpersist()
        cache.release_all()

    def staged(self, tr):
        """The composite's stages in its order, each materialized at its
        boundary; returns the output ``check`` takes."""
        st = _Staged()
        with tr.span("operators.qc") as s:
            kept = qc.detp_retained_samples(self.meth, 0.05)
            stage = self.meth.filter(F.col("sample_id").isin(kept))
            stage = qc.filter_probes_by_detp(stage, 0.05, len(kept))
            stage = qc.filter_cg_probes(stage)
            stage = qc.drop_sex_chromosomes(stage, self.probes)
            qc_meth = st.keep(stage)
        s["samples_kept"] = len(kept)
        with tr.aux():
            s["probes_kept"] = qc_meth.select("probe_id").distinct().count()
        tr.sample_storage()

        with tr.span("stats.bmiq") as s:
            normed = st.keep(
                bmiq_normalize(qc_meth, self.probes).withColumnRenamed("beta_bmiq", "beta_norm")
            )
        with tr.aux():
            ok = normed.groupBy("sample_id").agg(F.min(F.col("bmiq_ok").cast("int")).alias("ok"))
            s["ok_ratio"] = ok.agg(F.avg("ok")).first()[0]
        tr.sample_storage()

        with tr.span("stats.combat"):
            complete = qc.drop_incomplete_probes(normed, len(kept), "beta_norm")
            adjusted = combat(complete.withColumn("_m", model.mvalue("beta_norm")), value_col="_m")
            normalized = st.keep(
                adjusted.withColumn(
                    "beta_final", model.clamp(model.inv_mvalue("_m_combat"), 0.0, 1.0)
                ).select("probe_id", "sample_id", "run", "beta_final")
            )
        tr.sample_storage()

        with tr.span("stats.feature_selection"):
            top = top_k_variable_probes(normalized, self.top_k, "beta_final")
            selected = st.keep(select_probes(normalized, top))
        tr.sample_storage()

        with tr.span("stats.pca"):
            pca, _ev = pca_scores(selected.withColumn("mval", model.mvalue("beta_final")), k=3, value_col="mval")
            scores = pca.collect()
        tr.sample_storage()

        group_col, a, b = self.dmp_groups
        with tr.span("stats.limma"):
            labeled = normalized.join(
                F.broadcast(self.samples.select("sample_id", group_col)), "sample_id"
            ).withColumn("mval", model.mvalue("beta_final"))
            tested = st.keep(
                moderated_t_two_group(
                    labeled, group_col, a, b, value_col="mval",
                    with_p_values=True, prior_method="fitFDist",
                )
            )
        tr.sample_storage()

        with tr.span("stats.bh") as s:
            dmp = st.keep(bh_adjust_scalable(tested, "p_value", "adj_p", assume_no_nulls=True))
        with tr.aux():
            s["n_significant"] = dmp.filter(F.col("adj_p") < checks.DMP_FDR).count()
            fails = self.check((qc_meth, dmp, scores, None))
        tr.sample_storage()
        return st, fails


class IdatIngest:
    """IDAT directory -> decoded intensities -> betas -> parquet by run."""

    name = "idat_ingest"
    composite = "io.ingest"
    # the first call after set-up costs two to three later ones (Python
    # workers start, code generation, JIT)
    warmup_calls = 1

    def __init__(self, spark, path: str, truth: dict, work_dir: str):
        self.spark = spark
        self.truth = truth
        self.idat_dir = os.path.join(path, "idat")
        self.manifest = spark.read.parquet(os.path.join(path, "manifest.parquet"))
        self.expected = np.load(os.path.join(path, "expected_beta.npy"))
        self.out_dir = os.path.join(work_dir, "out", self.name)

    def prepare(self) -> None:
        """Clear the output directory (outside the clock)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def _with_run(self, betas):
        return betas.withColumn("run", F.substring_index("basename", "_", 1))

    def run(self):
        decoded = decode_idat(read_idat_dir(self.spark, self.idat_dir))
        betas = betas_from_intensities(decoded, self.manifest)
        write_parquet_by_run(self._with_run(betas), self.out_dir, ["run"])
        return self.out_dir

    def check(self, out) -> list[str]:
        table = pads.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["basename", "probe_id", "beta"]
        )
        return checks.check_idat(self.truth, self.expected, table.to_pandas())

    def release(self, out) -> None:
        cache.release_all()

    def output_stats(self) -> tuple[float, int]:
        """(MB, files) of parquet written by the last run."""
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.out_dir) for f in fs if f.endswith(".parquet")
        ]
        return sum(sizes) / 1e6, len(sizes)

    def input_mb(self) -> float:
        return sum(os.path.getsize(os.path.join(self.idat_dir, f)) for f in os.listdir(self.idat_dir)) / 1e6

    def staged(self, tr):
        st = _Staged()
        with tr.span("io.read_idat") as s:
            decoded = st.keep(decode_idat(read_idat_dir(self.spark, self.idat_dir)))
        s["mb_in"] = self.input_mb()
        tr.sample_storage()
        with tr.span("io.betas"):
            betas = st.keep(betas_from_intensities(decoded, self.manifest))
        tr.sample_storage()
        with tr.span("io.write") as s:
            write_parquet_by_run(self._with_run(betas), self.out_dir, ["run"])
        s["mb_out"], s["files"] = self.output_stats()
        return st, self.check(self.out_dir)


class CorpusCurate:
    """``plans.curation.curate`` over a generated corpus with the eval set
    as the decontamination benchmark."""

    name = "corpus_curate"
    composite = "plans.curation"
    # the first call after set-up costs three to four later ones (code
    # generation, JIT)
    warmup_calls = 1
    window_tokens = 512

    def __init__(self, spark, path: str, truth: dict, work_dir: str):
        self.spark = spark
        self.truth = truth
        self.docs = spark.read.parquet(os.path.join(path, "docs"))
        self.eval = spark.read.parquet(os.path.join(path, "eval.parquet"))

    def prepare(self) -> None:
        pass

    def run(self):
        out = curate(self.docs, self.eval, window_tokens=self.window_tokens)
        noop(out)
        return out

    def check(self, out) -> list[str]:
        return checks.check_corpus(self.truth, [r[0] for r in out.select("doc_id").collect()])

    def release(self, out) -> None:
        cache.release_all()

    def staged(self, tr):
        st = _Staged()
        with tr.span("ext.text.gate") as s:
            kept = st.keep(self.docs.filter(quality_reject_reasons() == F.lit("")))
        with tr.aux():
            n_docs, n_kept = self.docs.count(), kept.count()
        s["reject_ratio"] = 1.0 - n_kept / n_docs
        tr.sample_storage()
        with tr.span("plans.curation.redact"):
            red = st.keep(
                kept.select("doc_id", "source", normalize_label(redact_pii_text(F.col("text"))).alias("text"))
            )
        tr.sample_storage()
        with tr.span("ext.text.decontaminate"):
            flags = decontaminate(red, self.eval)
            clean = st.keep(red.join(flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"))
        tr.sample_storage()
        with tr.span("ext.dedup.exact") as s:
            unique = st.keep(dedup_exact(clean))
        with tr.aux():
            s["dup_ratio"] = 1.0 - unique.count() / max(clean.count(), 1)
        tr.sample_storage()
        with tr.span("ext.pack.pack"):
            toks = unique.select(
                "doc_id", "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
            )
            packed = st.keep(pack_sequences(toks, "n_tokens", self.window_tokens, shard_col="source"))
        tr.sample_storage()
        with tr.aux():
            fails = self.check(packed)
        return st, fails


WORKLOADS = {w.name: w for w in (EpicCohort, IdatIngest, CorpusCurate)}
