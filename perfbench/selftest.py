"""Self-tests of the benchmark at the smallest scale.

    python3 perfbench/selftest.py

Checks, for every workload, that a plain run and a traced run report
every metric of ``BENCHMARK.json`` with its unit and a correct result;
that a corrupted result is caught by the checksum and counted as a
failed run; that ``py4j.trips`` repeats exactly across the traced
runs of ``feature_dag``; and that ``stream_export`` measures its
micro-batches and deletes every run's work directories. Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import math
import os
import sys

import run as bench_run


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(res: dict, expected: list[dict], label: str) -> None:
    got = res["metrics"]
    check(list(got) == [m["name"] for m in expected],
          f"{label}: every metric reported, in contract order")
    for m in expected:
        v = got[m["name"]]
        check(v["unit"] == m["unit"] and isinstance(v["value"], float)
              and math.isfinite(v["value"]),
              f"{label}: {m['name']} = {v['value']:.6g} {v['unit']}")


def main() -> int:
    if not bench_run.prepare():
        return 2
    from pyspark.sql import DataFrame

    from workloads import WORKLOADS, StreamExport

    # what each stream_export run leaves in its stream dir after finish
    left_behind: list[int] = []
    finish = StreamExport.finish

    def counted_finish(self, traced):
        out = finish(self, traced)
        left_behind.append(len(os.listdir(self.stream_dir)))
        return out

    StreamExport.finish = counted_finish
    spec = bench_run.contract()
    seed = 3
    for name in WORKLOADS:
        res = bench_run.bench(name, seed, 3, False, scale="small")
        check(res["correct"] and res["failed"] == 0,
              f"{name}: correct, {res['attempted']} runs, none failed")
        check_metrics(res, spec["end_to_end"], name)
        check(all(m["value"] > 0 for m in res["metrics"].values()),
              f"{name}: every end-to-end metric is above zero")

        res = bench_run.bench(name, seed, 12, True, scale="small")
        check(res["correct"], f"{name} traced: correct")
        check_metrics(res, spec["per_layer"], f"{name} traced")
        trips = res["detail"]["py4j_trips"]
        if name == "train_export":
            nodes = [k for k in res["detail"]["more_layers"] if k.startswith("node.")]
            check(len(nodes) == 15, f"{name}: 15 per-node spans: {nodes}")
        if name == "feature_dag":
            check(len(trips) >= 2 and len(set(trips)) == 1,
                  f"{name}: py4j.trips repeats exactly: {trips}")
        if name == "stream_export":
            got = res["metrics"]
            check(got["stream.batches"]["value"] >= 1
                  and got["stream.files_written"]["value"] > 0
                  and res["detail"]["more_layers"].get("stream.commit_ms", 0)
                  > 0,
                  f"{name}: micro-batches, files and commits measured")
            check(not any(left_behind),
                  f"{name}: every run's work dirs deleted after it "
                  f"({len(left_behind)} runs)")

    def duplicate_first_row(df: DataFrame) -> DataFrame:
        return df.unionByName(df.limit(1))

    res = bench_run.bench("train_export", seed, 3, False, scale="small",
                          corrupt=duplicate_first_row)
    check(not res["correct"] and res["failed"] == res["attempted"] - 1 > 0,
          f"corrupted outputs: {res['failed']} of {res['attempted']} runs "
          "failed (all but the verified cold run), fail_ratio "
          f"{res['detail']['fail_ratio']:.3g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
