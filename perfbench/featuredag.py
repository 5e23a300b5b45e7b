"""A seeded, generated feature DAG over ``lineitem`` (the
``feature_dag`` workload).

``make_spec(seed)`` draws the DAG as plain data; ``build_dag(spec)``
turns it into an ``MLDag`` through the public DSL; ``oracle_sql(spec)``
gives the DuckDB SQL of both outputs, assembled from the SQL text each
node carries beside its Spark expression.

Shape (about 170 nodes):

- public inputs ``lineitem`` (DataFrame), ``scale``, ``shift`` (floats)
  and ``holdout_pct`` (int);
- two split nodes: a train split and a held-out split;
- layered FunctionNodes whose edges carry ``Column`` values, each with
  fan-in at most 2, plus a few nested ``MLDagNode``s of the same kind;
- two chains of ``attach`` nodes (DataFrame + Column -> DataFrame), one
  per split, that put the chosen features on the frame;
- ``RangeScaler`` EstimatorNodes in the train chain, fit on the train
  split, applied to the held-out split through ``as_transform``
  aliases.

Every Spark expression is built from exact IEEE operations in a fixed
association (literals are powers of two), and the SQL text spells the
same order, so Spark and DuckDB produce bit-identical doubles.
"""

from __future__ import annotations

import random

import mldag_spark as m
from pyspark.sql import Column, DataFrame, functions as F

# (base column, exact scale factor)
BASE = (
    ("l_quantity", 0.03125),
    ("l_extendedprice", 2.0 ** -16),
    ("l_discount", 16.0),
    ("l_tax", 16.0),
    ("l_linenumber", 0.25),
    ("l_suppkey", 0.0078125),
)
CONSTS = (0.5, 0.25, 0.75, 1.5, 2.0)
UNARY = ("scale", "shift", "abs", "clip", "fold")
BINARY = ("mean", "max", "min", "diff", "ratio")
# expanded expression leaves above which a node takes one input only;
# bounds the Catalyst tree each feature expands to
MAX_LEAVES = 16
# the generator seed of the DAG's topology and operators: fixed, so
# every --seed asks the same driver work of the engine
SHAPE_SEED = 20261017
# shape: LAYERS layers of WIDTH column nodes, N_NESTED nested dags,
# N_FEATURES features attached per split, N_SCALERS estimators
LAYERS = 5
WIDTH = 20
N_NESTED = 3
N_FEATURES = 16
N_SCALERS = 4
# percent of lineitem rows in the held-out split (public input
# ``holdout_pct``; the oracle reads the same value)
HOLDOUT_PCT = 25


def _lit(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


def _op_sql(op: str, args: list[str], c: float) -> str:
    a = args[0]
    b = args[1] if len(args) > 1 else None
    return {
        "scale": f"({a} * {_lit(c)})",
        "shift": f"({a} - shift)",
        "abs": f"abs({a} - {_lit(c)})",
        "clip": f"least(greatest({a}, {_lit(-c)}), {_lit(c * 8)})",
        "fold": f"(CASE WHEN {a} > {_lit(c)} THEN ({a} - {_lit(c)}) "
        f"ELSE ({_lit(c)} - {a}) END)",
        "mean": f"(({a} + {b}) * {_lit(0.5)})",
        "max": f"greatest({a}, {b})",
        "min": f"least({a}, {b})",
        "diff": f"(CASE WHEN {a} > {b} THEN ({a} - {b}) ELSE ({b} - {a}) END)",
        "ratio": f"(({a} * {b}) / ((abs({a}) + abs({b})) + {_lit(1.0)}))",
    }[op]


def _op_col(op: str, args: list[Column], c: float, shift=None) -> Column:
    a = args[0]
    b = args[1] if len(args) > 1 else None
    lc = F.lit(c)
    if op == "scale":
        return a * lc
    if op == "shift":
        return a - F.lit(shift)
    if op == "abs":
        return F.abs(a - lc)
    if op == "clip":
        return F.least(F.greatest(a, F.lit(-c)), F.lit(c * 8))
    if op == "fold":
        return F.when(a > lc, a - lc).otherwise(lc - a)
    if op == "mean":
        return (a + b) * F.lit(0.5)
    if op == "max":
        return F.greatest(a, b)
    if op == "min":
        return F.least(a, b)
    if op == "diff":
        return F.when(a > b, a - b).otherwise(b - a)
    if op == "ratio":
        return (a * b) / ((F.abs(a) + F.abs(b)) + F.lit(1.0))
    raise ValueError(op)


def make_spec(seed: int) -> dict:
    """The DAG as data. Column nodes are ``{"name", "op", "c", "inputs"}``
    with ``inputs`` naming earlier column nodes (or nested outputs
    ``"<nested>.<out>"``); the SQL of each is expanded over base columns
    in ``sql``. Topology and operators come from ``SHAPE_SEED``; ``seed``
    draws the operators' constants."""
    rng = random.Random(SHAPE_SEED)
    consts = random.Random(seed)
    cols: list[dict] = []
    sql: dict[str, str] = {}
    leaves: dict[str, int] = {}
    layer_of: dict[str, int] = {}
    for i, (name, k) in enumerate(BASE):
        n = f"b{i}"
        cols.append({"name": n, "op": "base", "c": k, "inputs": [name]})
        sql[n] = f"((CAST({name} AS DOUBLE) * {_lit(k)}) * scale)"
        leaves[n] = 1
        layer_of[n] = 0

    def pick(layer: int) -> str:
        pool = [n for n, lv in layer_of.items() if lv < layer]
        recent = [n for n in pool if layer_of[n] == layer - 1]
        return rng.choice(recent if recent and rng.random() < 0.7 else pool)

    def add_op(name: str, layer: int) -> dict:
        a = pick(layer)
        two = rng.random() < 0.4
        b = pick(layer) if two else None
        if b is not None and (b == a or leaves[a] + leaves[b] > MAX_LEAVES):
            b = None
        op = rng.choice(BINARY if b else UNARY)
        c = consts.choice(CONSTS)
        ins = [a, b] if b else [a]
        sql[name] = _op_sql(op, [sql[x] for x in ins], c)
        leaves[name] = sum(leaves[x] for x in ins)
        layer_of[name] = layer
        return {"name": name, "op": op, "c": c, "inputs": ins}

    nested_at = sorted(rng.sample(range(2, LAYERS), N_NESTED))
    nested: list[dict] = []
    for layer in range(1, LAYERS + 1):
        for j in range(WIDTH):
            cols.append(add_op(f"c{layer}_{j}", layer))
        if layer in nested_at:
            # a nested dag: inputs x, y -> a 5-op chain -> outputs u, v
            k = len(nested)
            x, y = pick(layer + 1), pick(layer + 1)
            inner = []
            isql = {"x": sql[x], "y": sql[y]}
            ops = [("mean", ["x", "y"]), ("fold", ["n0"]), ("max", ["n1", "x"]),
                   ("ratio", ["n2", "y"]), ("scale", ["n3"])]
            for t, (op, ins) in enumerate(ops):
                c = consts.choice(CONSTS)
                inner.append({"name": f"n{t}", "op": op, "c": c, "inputs": ins})
                isql[f"n{t}"] = _op_sql(op, [isql[i] for i in ins], c)
            nested.append({"name": f"nested{k}", "inputs": [x, y],
                           "nodes": inner, "outputs": {"u": "n2", "v": "n4"}})
            for out, src in (("u", "n2"), ("v", "n4")):
                n = f"nested{k}.{out}"
                sql[n] = isql[src]
                leaves[n] = 2 * (leaves[x] + leaves[y])
                layer_of[n] = layer

    consumed = {i for c in cols for i in c["inputs"]}
    consumed |= {i for nd in nested for i in nd["inputs"]}
    names = [c["name"] for c in cols if c["op"] != "base"]
    names += [f"{nd['name']}.{o}" for nd in nested for o in nd["outputs"]]
    sinks = [n for n in names if n not in consumed]
    rest = [n for n in names if n in consumed]
    rng.shuffle(rest)
    features = (sinks + rest)[:N_FEATURES]
    step = len(features) // N_SCALERS
    return {
        "seed": seed,
        "columns": cols,
        "nested": nested,
        "features": features,
        "scalers": [i * step for i in range(N_SCALERS)],
        "sql": {f"f{i}": sql[n] for i, n in enumerate(features)},
    }


class RangeScaler:
    """Scale one column to ``(x - lo) / (hi - lo + 1)`` with ``lo``/``hi``
    taken from the frame it is fit on (an eager min/max job)."""

    def __init__(self, col: str, out: str) -> None:
        self.col, self.out = col, out
        self.lo = self.hi = None

    def fit(self, df: DataFrame) -> "RangeScaler":
        row = df.agg(F.min(self.col), F.max(self.col)).first()
        self.lo, self.hi = float(row[0]), float(row[1])
        return self

    # no return annotation: the engine would read it as the output name
    def transform(self, df: DataFrame):
        return df.withColumn(
            self.out,
            (F.col(self.col) - F.lit(self.lo)) / F.lit(self.hi - self.lo + 1.0),
        )


def _column_fn(spec_node: dict, base: bool):
    op, c = spec_node["op"], spec_node["c"]
    if base:
        col = spec_node["inputs"][0]

        def base_fn(scale):
            return (F.col(col).cast("double") * F.lit(c)) * F.lit(scale)

        return base_fn
    if op == "shift":

        def shift_fn(a, shift):
            return _op_col(op, [a], c, shift)

        return shift_fn
    if len(spec_node["inputs"]) == 2:

        def binary_fn(a, b):
            return _op_col(op, [a, b], c)

        return binary_fn

    def unary_fn(a):
        return _op_col(op, [a], c)

    return unary_fn


def _wire_op(dag, node, spec_node, src):
    """Connect ``node``'s Column inputs from ``src`` (name -> (node, slot))
    and its public ``shift`` input."""
    for slot, name in zip(("a", "b"), spec_node["inputs"]):
        up, up_slot = src[name]
        if isinstance(up, str):
            dag[up] >> node[slot]
        else:
            up[up_slot] >> node[slot]
    if spec_node["op"] == "shift":
        dag["shift"] >> node["shift"]


def _nested_dag(nd: dict) -> m.MLDag:
    inner = m.MLDag()
    src: dict = {"x": ("x", None), "y": ("y", None)}
    for sn in nd["nodes"]:
        node = m.as_node(_column_fn(sn, False), name=sn["name"])
        _wire_op(inner, node, sn, src)
        src[sn["name"]] = (node, "result")
    for out, name in nd["outputs"].items():
        src[name][0]["result"] >> inner[out]
    return inner


def build_dag(spec: dict) -> m.MLDag:
    """A fresh ``MLDag`` for ``spec``; outputs ``train_features`` and
    ``test_features``."""
    dag = m.MLDag()
    src: dict = {}
    ready = set()
    pending = list(spec["nested"])
    for sn in spec["columns"]:
        base = sn["op"] == "base"
        node = m.as_node(_column_fn(sn, base), name=sn["name"])
        if base:
            dag["scale"] >> node["scale"]
        else:
            _wire_op(dag, node, sn, src)
        src[sn["name"]] = (node, "result")
        ready.add(sn["name"])
        for nd in [p for p in pending if set(p["inputs"]) <= ready]:
            pending.remove(nd)
            nn = m.MLDagNode(_nested_dag(nd), name=nd["name"])
            for slot, name in zip(("x", "y"), nd["inputs"]):
                up, up_slot = src[name]
                up[up_slot] >> nn[slot]
            for out in nd["outputs"]:
                src[f"{nd['name']}.{out}"] = (nn, out)
                ready.add(f"{nd['name']}.{out}")

    def split_train(lineitem, holdout_pct):
        b = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 100
        return lineitem.filter(b >= holdout_pct)

    def split_test(lineitem, holdout_pct):
        b = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 100
        return lineitem.filter(b < holdout_pct)

    heads = {}
    for side, fn in (("train", split_train), ("test", split_test)):
        node = m.as_node(fn, name=f"split_{side}")
        dag["lineitem"] >> node["lineitem"]
        dag["holdout_pct"] >> node["holdout_pct"]
        heads[side] = node

    scaler_at = set(spec["scalers"])
    for i, feat in enumerate(spec["features"]):
        for side in ("train", "test"):

            def attach(df, col, _out=f"f{i}"):
                return df.withColumn(_out, col)

            node = m.as_node(attach, name=f"attach_{side}_{i}")
            heads[side]["result"] >> node["df"]
            up, up_slot = src[feat]
            up[up_slot] >> node["col"]
            heads[side] = node
        if i in scaler_at:
            est = m.EstimatorNode(
                RangeScaler(f"f{i}", f"z{i}"), name=f"scaler_{i}"
            )
            heads["train"]["result"] >> est["df"]
            heads["train"] = est
            alias = dag.add(
                m.as_transform(f"scaler_{i}", name=f"scaler_{i}_test")
            )
            heads["test"]["result"] >> alias["df"]
            heads["test"] = alias

    keep = ["l_orderkey", "l_linenumber"] + output_features(spec)
    for side in ("train", "test"):

        def finish(df):
            return df.select(*keep)

        node = m.as_node(finish, name=f"finish_{side}")
        heads[side]["result"] >> node["df"]
        node["result"] >> dag[f"{side}_features"]
    return dag


def output_features(spec: dict) -> list[str]:
    return [f"f{i}" for i in range(len(spec["features"]))] + [
        f"z{i}" for i in spec["scalers"]
    ]


def dag_args() -> dict:
    """The scalar public inputs (exact binary fractions)."""
    return {"scale": 1.25, "shift": 0.375, "holdout_pct": HOLDOUT_PCT}


def oracle_sql(spec: dict) -> dict[str, str]:
    """DuckDB SQL for ``train_features`` and ``test_features`` over a
    ``lineitem`` view, with the public inputs of ``dag_args``."""
    a = dag_args()
    feats = ",\n       ".join(f"{s} AS {f}" for f, s in spec["sql"].items())
    fnames = ", ".join(spec["sql"])
    stats = ", ".join(
        f"min(f{i}) AS lo{i}, max(f{i}) AS hi{i}" for i in spec["scalers"]
    )
    zs = ", ".join(
        f"(f{i} - lo{i}) / ((hi{i} - lo{i}) + {_lit(1.0)}) AS z{i}"
        for i in spec["scalers"]
    )
    base = f"""
WITH p AS (SELECT {_lit(a['scale'])} AS scale, {_lit(a['shift'])} AS shift),
src AS (
    SELECT l.*, p.scale, p.shift,
           (l_orderkey * 31 + l_linenumber) % 100 AS _bucket
    FROM lineitem l, p
), tr AS (
    SELECT l_orderkey, l_linenumber,
       {feats}
    FROM src WHERE _bucket >= {a['holdout_pct']}
), te AS (
    SELECT l_orderkey, l_linenumber,
       {feats}
    FROM src WHERE _bucket < {a['holdout_pct']}
), st AS (SELECT {stats} FROM tr)
"""
    return {
        side: base
        + f"SELECT l_orderkey, l_linenumber, {fnames}, {zs} FROM {t}, st"
        for side, t in (("train_features", "tr"), ("test_features", "te"))
    }

