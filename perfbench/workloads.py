"""The benchmark workloads.

A workload makes its seeded inputs, computes the expected outputs once
with DuckDB, and runs the pipeline: ``run(spark, tracer)`` builds fresh
DAGs, calls them, and returns the lazy output DataFrames, which the
harness then brings to a finished result.

- ``train_export``: the training-data job. The registered
  ``dag_pipeline_clean_pack`` and ``dag_pipeline_fit_apply`` DAGs over
  a replicated document corpus. Executor stages dominate: the exact
  dedup shuffle, the shingle self-join, the packer's prefix sum, and
  the reuse points of a two-consumer frame and a fit -> transform frame.
- ``feature_dag``: about 170 generated FunctionNodes with Column-valued
  edges over ``lineitem`` (``featuredag.py``). The driver is the
  bottleneck: scheduling, routing, py4j round trips, expression
  construction and Catalyst analysis; executors are nearly idle.
- ``stream_export``: the streamed export path of
  ``stream_pipeline_pack`` (streamed bloom decontamination, id-ordered
  staging, streamed token-budget packing) with work directories the
  benchmark owns and deletes after every run. Writes sit beside reads:
  micro-batch sinks, checkpoint and carry-ledger commits, and many
  small driver-side jobs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
import uuid
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import FractionalType, IntegralType

import featuredag
import inputs
from spans import attach_mixins

# scale -> sizes; "small" is for the self-tests
SIZES = {
    "train_export": {"full": (2500, 2), "small": (300, 2)},
    "feature_dag": {"full": 15000, "small": 3000},
    "stream_export": {"full": 1000, "small": 300},
}
# micro-batches stream_export stages and packs: stream_pipeline_pack uses
# four, but each costs ~1.4 s of small jobs and commits whatever its
# rows, and two still carry the pack's running total across a batch
STREAM_BATCHES = 2


# (dag label, node name) pairs whose spans the traced run reports one
# by one: the nodes of train_export's two DAGs and of stream_export's
# (zero on other workloads)
NAMED_NODES = tuple(
    ("clean_pack", n)
    for n in ("docs_src", "clean", "dedup_exact", "quality_gate",
              "decontaminate", "pack")
) + tuple(
    ("fit_apply", n)
    for n in ("docs_src", "clean", "dedup_exact", "featurize",
              "train_split", "test_split", "scaler", "scaler_test",
              "test_stats")
) + tuple(("stream_export", n) for n in ("decontaminate", "stage", "pack"))


# the per-layer numbers of the streaming layer (``StreamExport.finish``)
STREAM_LAYERS = (
    "stream.batches", "stream.batch_p50_ms", "stream.commit_ms",
    "stream.stage_s", "stream.bytes_written_mb", "stream.files_written",
)


class Workload:
    name = ""

    def __init__(self, seed: int, workdir: str, scale: str = "full") -> None:
        self.seed, self.scale = seed, scale
        self.data_dir = os.path.join(workdir, "data")
        self.input_rows = 0
        self.sizes: dict = {}

    def make_inputs(self) -> None:
        raise NotImplementedError

    def oracle(self) -> dict[str, str]:
        """Output name -> DuckDB SQL over the input tables."""
        raise NotImplementedError

    def run(self, spark, tracer):
        raise NotImplementedError

    def finish(self, traced: bool) -> dict:
        """Called after every run, once its outputs are checked or the
        run has failed: release what the run left behind. ``traced``
        (only for a complete traced run): return extra per-layer numbers
        of the run."""
        return {}

    def expected(self) -> dict[str, pd.DataFrame]:
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data_dir)):
                t = f.removesuffix(".parquet")
                path = os.path.join(self.data_dir, f)
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return {k: con.execute(q).df() for k, q in self.oracle().items()}
        finally:
            con.close()


class TrainExport(Workload):
    name = "train_export"

    def make_inputs(self) -> None:
        base_n, factor = SIZES[self.name][self.scale]
        docs = inputs.replicate_documents(
            inputs.documents(base_n, self.seed), factor, self.seed
        )
        inputs.write_table(docs, self.data_dir, "documents")
        self.input_rows = docs.num_rows
        self.sizes = {"documents": docs.num_rows, "base_documents": base_n,
                      "replicas": factor}

    def oracle(self) -> dict[str, str]:
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        return {k: sql[k] for k in
                ("dag_pipeline_clean_pack", "dag_pipeline_fit_apply")}

    def run(self, spark, tracer):
        from mldag_spark.queries.dag_pipeline import (
            build_clean_pack_dag,
            build_fit_apply_dag,
        )

        with tracer.span("core.build"):
            clean_pack = build_clean_pack_dag(spark)
            fit_apply = build_fit_apply_dag(spark)
        if tracer.enabled:
            attach_mixins(clean_pack, tracer, "clean_pack")
            attach_mixins(fit_apply, tracer, "fit_apply")
        packed = clean_pack.transform(self.data_dir)
        stats = fit_apply.fit_transform(self.data_dir)
        return {
            "dag_pipeline_clean_pack": packed.outputs["packed_corpus"],
            "dag_pipeline_fit_apply": stats.outputs["fit_apply_stats"],
        }


class FeatureDag(Workload):
    name = "feature_dag"

    def make_inputs(self) -> None:
        n = SIZES[self.name][self.scale]
        inputs.write_table(inputs.lineitem(n, self.seed), self.data_dir,
                           "lineitem")
        self.spec = featuredag.make_spec(self.seed)
        self.input_rows = n
        self.sizes = {"lineitem": n,
                      "column_nodes": len(self.spec["columns"]),
                      "features": len(self.spec["features"])}

    def oracle(self) -> dict[str, str]:
        return featuredag.oracle_sql(self.spec)

    def run(self, spark, tracer):
        from mldag_spark.queries.tables import load

        with tracer.span("core.build"):
            dag = featuredag.build_dag(self.spec)
        if tracer.enabled:
            attach_mixins(dag, tracer, "feature_dag")
        lineitem = load(spark, self.data_dir, "lineitem")
        run = dag.fit_transform(lineitem=lineitem, **featuredag.dag_args())
        return {k: run.outputs[k] for k in ("train_features", "test_features")}


class StreamExport(Workload):
    name = "stream_export"

    def __init__(self, seed: int, workdir: str, scale: str = "full") -> None:
        super().__init__(seed, workdir, scale)
        self.stream_dir = os.path.join(workdir, "stream")
        self.run_dir: str | None = None
        self.query = None
        self.stage_s = 0.0

    def make_inputs(self) -> None:
        n = SIZES[self.name][self.scale]
        docs = inputs.documents(n, self.seed)
        inputs.write_table(docs, self.data_dir, "documents")
        self.input_rows = n
        self.sizes = {"documents": n}

    def oracle(self) -> dict[str, str]:
        import __spark_entry__

        return {"stream_pipeline_pack":
                __spark_entry__.oracle_sql()["stream_pipeline_pack"]}

    def run(self, spark, tracer):
        self.query = None
        run = self.run_dir = os.path.join(self.stream_dir, uuid.uuid4().hex)
        os.makedirs(run)
        with tracer.span("core.build"):
            dag = self.build_dag(spark, run)
        if tracer.enabled:
            attach_mixins(dag, tracer, "stream_export")
        res = dag.transform(self.data_dir)
        return {"stream_pipeline_pack": res.outputs["packed"]}

    def build_dag(self, spark, run: str):
        """``stream_pipeline_pack``'s composition as a three-node DAG,
        every directory under ``run``: ``decontaminate`` is the
        registered ``stream_decontaminate_bloom`` (it makes its own sink
        and checkpoint dir with ``tempfile``, pointed into ``run``);
        ``stage`` writes the survivors as ``STREAM_BATCHES`` id-range
        micro-batch files; ``pack`` packs them as a stream."""
        import mldag_spark as m
        from mldag_spark import streaming as S
        from mldag_spark.queries import REGISTRY

        def decontaminate(sf_dir):
            saved, tempfile.tempdir = tempfile.tempdir, run
            try:
                survivors = REGISTRY["stream_decontaminate_bloom"](
                    spark, sf_dir
                )
            finally:
                tempfile.tempdir = saved
            return survivors.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("n_chars").cast("long").alias("n_chars"),
            )

        def stage(survivors):
            t0 = time.perf_counter()
            src = os.path.join(run, "src")
            S.stage_id_ordered_micro_batches(
                survivors, src, STREAM_BATCHES, "doc_id"
            )
            self.stage_s = time.perf_counter() - t0
            return src

        def pack(src):
            self.query = S.pack_stream(
                spark.readStream.schema("doc_id bigint, n_chars bigint")
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                "doc_id",
                "n_chars",
                max_tokens=65536,
                out_path=os.path.join(run, "packed"),
                checkpoint=os.path.join(run, "ckpt"),
                carry_path=os.path.join(run, "carry"),
            )
            return spark.read.parquet(os.path.join(run, "packed")).select(
                "doc_id", "n_chars", "global_cum", "batch_id"
            )

        dag = m.MLDag()
        pipe = (
            dag["sf_dir"]
            >> m.as_node(decontaminate, name="decontaminate")
            >> m.as_node(stage, name="stage")
            >> m.as_node(pack, name="pack")
        )
        pipe["result"] >> dag["packed"]
        return dag

    def finish(self, traced: bool) -> dict:
        """Measure what the run wrote (sinks, checkpoints, carry ledger,
        staged batches), then delete it; traced (and the run complete),
        add the pack stream's micro-batch numbers."""
        files, size = 0, 0
        for base, _, names in os.walk(self.run_dir):
            for f in names:
                files += 1
                size += os.path.getsize(os.path.join(base, f))
        shutil.rmtree(self.run_dir)
        out = {"stream.files_written": files,
               "stream.bytes_written_mb": size * 1e-6}
        if traced:
            out.update(stream_metrics(self.query.recentProgress))
            out["stream.stage_s"] = self.stage_s
        return out


def stream_metrics(progress: list[dict]) -> dict:
    """Micro-batch numbers of one streaming query from its progress
    reports: batches, median trigger time, and the offset-log and
    commit-log writes (``walCommit`` + ``commitOffsets``)."""
    ms = [p["durationMs"] for p in progress]
    return {
        "stream.batches": len(progress),
        "stream.batch_p50_ms": statistics.median(
            d.get("triggerExecution", 0) for d in ms),
        "stream.commit_ms": float(sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in ms)),
    }


WORKLOADS = {w.name: w for w in (TrainExport, FeatureDag, StreamExport)}


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the two frames have the same column names and the same
    multiset of rows under ``scripts/check_oracle.py``'s ``normalize``
    rule; else a short reason. The rows are compared as counted sets, not
    in ``normalize``'s sorted order: that order keys on ``str`` of each
    cell, and a value rounding to -0.0 on one side and 0.0 on the other
    (equal cells) then sorts to different places."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    normalize = inputs.script("check_oracle").normalize
    a, b = Counter(normalize(actual)), Counter(normalize(expected))
    if a != b:
        return (f"rows only in the result {list(a - b)[:3]!r}, only in "
                f"the oracle {list(b - a)[:3]!r}")
    return None


def checksum_frame(df: DataFrame) -> DataFrame:
    """One-row (n, h): row count and the decimal sum of a 64-bit hash of
    each row's normalized columns (names sorted; fractional values
    rounded to 6 places, integers widened to bigint, the rest as
    strings). Order-insensitive over rows and columns."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, FractionalType):
            c = F.round(c.cast("double"), 6)
        elif isinstance(f.dataType, IntegralType):
            c = c.cast("bigint")
        else:
            c = c.cast("string")
        cols.append(c)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("h"),
    )
