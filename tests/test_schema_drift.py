"""Testdata schema-drift guard.

The driver regenerates /root/testdata between rounds and has already
changed a physical dtype once (events.ts: TIMESTAMP(NANOS) ->
timestamp[us]), which silently collapsed all event time in the
streaming source — green schema, plausible rows, wrong values; no
exception anywhere. These tests pin (a) the canonical engine dtype for
every column of every table as seen THROUGH the loaders, and (b) a
value-level parity check of an event-time aggregate against an
independent pyarrow/pandas recomputation, which is the only kind of
check that catches the silent-collapse failure mode.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mldag_spark.queries.tables import TABLES, load

SF_DIR = "/root/testdata/sf0.001"

# Canonical dtypes every consumer of load() may assume. If a driver
# regen changes the physical parquet type, the loader must keep mapping
# it HERE — a diff in this table is an intentional engine change, never
# a side effect of new testdata.
CANONICAL = {
    "region": {
        "r_regionkey": "int",
        "r_name": "string",
    },
    "nation": {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
    },
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("table", TABLES)
def test_loader_maps_every_column_to_canonical_dtype(spark, table):
    got = dict(load(spark, SF_DIR, table).dtypes)
    want = CANONICAL[table]
    assert got == want, (
        f"{table}: loader dtypes drifted.\n  got:  {got}\n  want: {want}\n"
        "If the driver regenerated testdata with new physical types, fix "
        "the LOADER mapping (queries/tables.py), not this table."
    )


def test_streaming_schema_matches_batch(spark):
    """The streaming events source must produce the same schema as the
    batch loader — it declares its schema explicitly (readStream can't
    infer), which is exactly where drift hides."""
    from mldag_spark.streaming import events_stream

    stream = events_stream(spark, SF_DIR)
    assert dict(stream.dtypes) == CANONICAL["events"]


def test_event_time_values_match_pyarrow_recomputation(spark):
    """Value-level guard for the silent-collapse mode: recompute the
    hourly rollup with pyarrow/pandas (no Spark reader, no loader code)
    and require exact group parity. A dtype mishandling that shifts or
    collapses event time changes the number of (hour, type) groups and
    every max(ts); an AnalysisException-style guard can never catch it.
    """
    pdf = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    # independent recomputation: floor to the hour in pandas
    ts = pd.to_datetime(pdf["ts"])
    expected_groups = (
        pd.DataFrame({"hour": ts.dt.floor("h"), "event_type": pdf["event_type"]})
        .groupby(["hour", "event_type"])
        .size()
    )
    expected_max_ts = ts.max().to_pydatetime().replace(tzinfo=None)

    e = load(spark, SF_DIR, "events")
    got = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .count()
        .collect()
    )
    assert len(got) == len(expected_groups), (
        f"hourly-rollup group count {len(got)} != pyarrow {len(expected_groups)}"
        " — event time was shifted or collapsed by the loader"
    )
    got_max = e.agg(F.max("ts")).collect()[0][0].replace(tzinfo=None)
    assert got_max == expected_max_ts, (
        f"max(ts) {got_max!r} != pyarrow {expected_max_ts!r}"
    )


def test_streaming_event_time_not_collapsed(spark, tmp_path):
    """Same value-level guard through the STREAMING source (the site
    that actually broke): run the windowed rollup availableNow and
    compare the distinct window count against pyarrow."""
    from mldag_spark.streaming import events_stream, windowed_rollup

    pdf = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    ts = pd.to_datetime(pdf["ts"])
    # append mode emits a window only once the watermark (max event time
    # at 0s delay) passes its END — the final in-progress hour stays in
    # state, so expected = closed windows only.
    groups = (
        pd.DataFrame({"h": ts.dt.floor("h"), "t": pdf["event_type"]})
        .groupby(["h", "t"])
        .size()
        .reset_index()
    )
    expected = int((groups["h"] + pd.Timedelta(hours=1) <= ts.max()).sum())

    out = windowed_rollup(events_stream(spark, SF_DIR), watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("drift_guard_rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) n from drift_guard_rollup").collect()[0]["n"]
    assert n == expected, (
        f"streaming hourly rollup emitted {n} windows, pyarrow says {expected}"
        " — event time collapsed in the streaming source"
    )


def test_schema_cache_invalidates_on_in_place_part_rewrite(spark, tmp_path):
    """ADVICE r15: for directory-style parquet datasets, rewriting a
    part file in place does not change the directory's own mtime/size,
    so a (dir-stat)-keyed schema cache would serve a stale schema.
    The cache keys directories on the part files' aggregate
    (newest mtime, total size, count) instead — pin that a rewritten
    part re-infers."""
    import os
    import shutil

    from mldag_spark.queries.tables import _read_parquet

    d = str(tmp_path / "ds")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(d)
    assert _read_parquet(spark, d).schema.fieldNames() == ["a"]

    # rewrite the single part file IN PLACE with a different schema,
    # then restore the directory's own mtime so only the part changed
    dir_stat = os.stat(d)
    part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    tmp2 = str(tmp_path / "ds2")
    spark.range(7).selectExpr("id AS b", "id AS c").coalesce(1).write.parquet(
        tmp2
    )
    part2 = [f for f in os.listdir(tmp2) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(tmp2, part2), os.path.join(d, part))
    for f in os.listdir(d):  # a real writer replaces checksums too
        if f.endswith(".crc"):
            os.remove(os.path.join(d, f))
    os.utime(d, (dir_stat.st_atime, dir_stat.st_mtime))

    assert _read_parquet(spark, d).schema.fieldNames() == ["b", "c"]


def test_schema_cache_invalidates_on_nested_partition_part_rewrite(
    spark, tmp_path
):
    """ADVICE r16: the directory cache key must cover part files inside
    Hive partition dirs (``k=v/part-*.parquet``). Rewriting one in place,
    with every directory's own mtime restored, must still make the next
    ``load`` infer the new schema."""
    import os
    import shutil

    sf = tmp_path / "sf"
    d = str(sf / "region.parquet")
    spark.range(5).selectExpr("id AS a", "0 AS k").coalesce(1).write.partitionBy(
        "k"
    ).parquet(d)
    assert load(spark, str(sf), "region").schema.fieldNames() == ["a", "k"]

    nested = os.path.join(d, "k=0")
    dir_stats = {p: os.stat(p) for p in (d, nested)}
    part = [f for f in os.listdir(nested) if f.endswith(".parquet")][0]
    tmp2 = str(tmp_path / "ds2")
    spark.range(7).selectExpr("id AS b", "id AS c").coalesce(1).write.parquet(
        tmp2
    )
    part2 = [f for f in os.listdir(tmp2) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(tmp2, part2), os.path.join(nested, part))
    for f in os.listdir(nested):  # a real writer replaces checksums too
        if f.endswith(".crc"):
            os.remove(os.path.join(nested, f))
    for p, st in dir_stats.items():
        os.utime(p, (st.st_atime, st.st_mtime))

    assert load(spark, str(sf), "region").schema.fieldNames() == [
        "b", "c", "k"
    ]


def test_approx_distinct_counts_keep_a_null_key_group(spark, tmp_path):
    """ADVICE r16: ``agg_approx_distinct_counts`` joins its exact and
    sketch aggregates back on ``l_returnflag``. GROUP BY keeps a NULL
    key group, so the join must too: over a lineitem copy holding a
    NULL ``l_returnflag`` row, the NULL group is present and every group
    matches the exact distinct counts."""
    import pyarrow as pa

    from mldag_spark.queries import REGISTRY

    li = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    null_row = li.slice(0, 1).set_column(
        li.schema.get_field_index("l_returnflag"),
        li.schema.field("l_returnflag"),
        pa.nulls(1, li.schema.field("l_returnflag").type),
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.concat_tables([li, null_row]), sf / "lineitem.parquet")

    got = {
        r["l_returnflag"]: (
            r["n_parts_exact"], r["n_supps_exact"], r["approx_within_5pct"]
        )
        for r in REGISTRY["agg_approx_distinct_counts"](spark, str(sf)).collect()
    }
    want = {
        r["l_returnflag"]: (r["n_parts"], r["n_supps"], True)
        for r in REGISTRY["agg_exact_distinct_counts"](spark, str(sf)).collect()
    }
    assert None in want
    assert got == want
