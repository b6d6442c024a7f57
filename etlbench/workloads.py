"""The three workloads, the seeded op list of each pass, and for the
pipeline ops both the engine-side spec and the DuckDB SQL that checks
it.

Why each workload exists, and which layer each one loads, is recorded
in README.md.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# Catalog queries written to the noop sink. Each is 0.3-1.1 s warm at
# sf0.1 on 4 cores; construction is a small share, execution the rest.
RELATIONAL_OPS = (
    "q1_pricing", "q3_top_orders", "q5_regional_revenue", "q9_product_profit",
    "q18_large_orders", "declarative_star_join", "window_rank",
    "asof_join_events", "session_windows", "percentile_exact", "agg_distinct",
    "connector_slice", "transform_chain",
)

# Catalog queries whose time goes to construction: the eager jobs the
# query functions fire (checkpoints, counts, iterative operators).
CURATION_OPS = (
    "ppjoin_pairs", "minhash_near_dups", "dedup_keep_best", "kcore_parts",
    "louvain_multilevel",
)


@dataclass(frozen=True)
class Workload:
    name: str
    dataset: str  # test-data scale directory, e.g. "sf0.1"
    queries: tuple[str, ...] = ()  # empty: the pipeline workload


WORKLOADS = {
    w.name: w
    for w in (
        Workload("relational", "sf0.1", RELATIONAL_OPS),
        # sf0.01: at sf0.1 one set-up plus one pass takes about 75 s,
        # which the run budget cannot hold for every run.
        Workload("curation_graph", "sf0.01", CURATION_OPS),
        Workload("etl_pipelines", "sf0.1"),
    )
}


@dataclass
class Op:
    kind: str  # query | extract_load | slice | merge | compact
    label: str
    params: dict = field(default_factory=dict)


def pass_ops(workload: Workload, seed: int, pass_index: int, n_orders: int = 0) -> list[Op]:
    """The ops of one pass, a pure function of its arguments. Pass -1
    is the warm-up pass."""
    rng = random.Random(seed * 1_000_003 + pass_index)
    if workload.queries:
        return [Op("query", n) for n in rng.sample(workload.queries, len(workload.queries))]
    return etl_pass_ops(rng, pass_index, n_orders)


# ---------------------------------------------------------------- pipelines

# (transformation, DuckDB expression for its output column). The
# expressions spell out the engine's JS-compatible semantics for string
# columns: missing or empty values read as '' and are dropped by concat.
def _js(col: str) -> str:
    return f"(CASE WHEN {col} IS NULL OR {col} = '' THEN '' ELSE {col} END)"


LINEITEM_TRANSFORMS = (
    ({"type": "lowercase", "options": {"field": "l_returnflag", "to": "rf_lc"}},
     "lower(coalesce(l_returnflag, '')) AS rf_lc"),
    ({"type": "concat", "options": {"properties": ["l_returnflag", "l_linestatus"], "glue": "-", "to": "flag_status"}},
     "concat_ws('-', nullif(l_returnflag, ''), nullif(l_linestatus, '')) AS flag_status"),
    ({"type": "addPrefix", "options": {"field": "l_linestatus", "prefix": "st-", "to": "st"}},
     f"'st-' || {_js('l_linestatus')} AS st"),
    ({"type": "addSuffix", "options": {"field": "l_returnflag", "suffix": "!", "to": "rf_x"}},
     f"{_js('l_returnflag')} || '!' AS rf_x"),
)

CUSTOMER_TRANSFORMS = (
    ({"type": "uppercase", "options": {"field": "c_name", "to": "name_up"}},
     "upper(coalesce(c_name, '')) AS name_up"),
    ({"type": "lowercase", "options": {"field": "c_mktsegment", "to": "seg_lc"}},
     "lower(coalesce(c_mktsegment, '')) AS seg_lc"),
    ({"type": "concat", "options": {"properties": ["c_mktsegment", "c_name"], "glue": "/", "to": "seg_name"}},
     "concat_ws('/', nullif(c_mktsegment, ''), nullif(c_name, '')) AS seg_name"),
    ({"type": "addSuffix", "options": {"field": "c_name", "suffix": "#v", "to": "name_v"}},
     f"{_js('c_name')} || '#v' AS name_v"),
)

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
FLAGS = ("A", "N", "R")
LINEITEM_FIELDS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"]
CUSTOMER_FIELDS = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
SLICE_FIELDS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"]
ORDERS_FIELDS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]

# Per pass: six of each kind in seeded order, then a compact. Fixed
# counts keep pass times comparable across seeds; the parameters vary.
EXTRACT_TABLES = ("lineitem", "customer", "lineitem", "lineitem", "customer", "lineitem")
SLICES_PER_PASS = 6
MERGES_PER_PASS = 6


def etl_pass_ops(rng: random.Random, pass_index: int, n_orders: int) -> list[Op]:
    ops = []
    for slot, table in enumerate(EXTRACT_TABLES):
        if table == "lineitem":
            q_lo = rng.randint(1, 40)
            params = {
                "table": table,
                "q_range": (q_lo, q_lo + 8),
                "flags": sorted(rng.sample(FLAGS, 2)),
                "transforms": sorted(rng.sample(range(len(LINEITEM_TRANSFORMS)), 2)),
            }
        else:
            params = {
                "table": table,
                "min_bal": rng.randint(-999, 8000),
                "segments": sorted(rng.sample(SEGMENTS, 3)),
                "transforms": sorted(rng.sample(range(len(CUSTOMER_TRANSFORMS)), 2)),
            }
        ops.append(Op("extract_load", f"extract_load.{slot}", {"slot": slot, **params}))
    for k in range(SLICES_PER_PASS):
        ops.append(Op("slice", f"slice.{k}", {
            "flag": rng.choice(FLAGS),
            "min_qty": rng.randint(1, 40),
            "offset": rng.randint(0, 20_000),
            "limit": rng.randint(200, 2_000),
        }))
    for k in range(MERGES_PER_PASS):
        span = rng.randint(2_000, 20_000)
        lo = rng.randint(0, n_orders - span)
        ops.append(Op("merge", f"merge.{k}", {
            "lo": lo, "hi": lo + span - 1, "suffix": f"~{pass_index}.{k}",
        }))
    rng.shuffle(ops)
    ops.append(Op("compact", "compact"))
    return ops


def _transforms(params: dict):
    menu = LINEITEM_TRANSFORMS if params["table"] == "lineitem" else CUSTOMER_TRANSFORMS
    return [menu[i] for i in params["transforms"]]


def extract_connector(op: Op, sf_dir: str):
    from openetl_spark.spec import Connector, Filter, Transformation

    p = op.params
    if p["table"] == "lineitem":
        fields = LINEITEM_FIELDS
        filters = [
            Filter("l_quantity", "between", tuple(p["q_range"])),
            Filter("l_returnflag", "in", list(p["flags"])),
        ]
    else:
        fields = CUSTOMER_FIELDS
        filters = [
            Filter("c_acctbal", ">", p["min_bal"]),
            Filter("c_mktsegment", "in", list(p["segments"])),
        ]
    return Connector(
        adapter_id="parquet",
        endpoint_id=f"{sf_dir}/{p['table']}.parquet",
        fields=fields,
        filters=filters,
        transform=[Transformation(t["type"], dict(t["options"])) for t, _ in _transforms(p)],
    )


def extract_sql(op: Op) -> str:
    p = op.params
    exprs = [sql for _, sql in _transforms(p)]
    if p["table"] == "lineitem":
        lo, hi = p["q_range"]
        flags = ", ".join(f"'{f}'" for f in p["flags"])
        where = f"l_quantity BETWEEN {lo} AND {hi} AND l_returnflag IN ({flags})"
        fields = LINEITEM_FIELDS
    else:
        segs = ", ".join(f"'{s}'" for s in p["segments"])
        where = f"c_acctbal > {p['min_bal']} AND c_mktsegment IN ({segs})"
        fields = CUSTOMER_FIELDS
    return f"SELECT {', '.join(fields + exprs)} FROM {p['table']} WHERE {where}"


def slice_connector(op: Op, sf_dir: str):
    from openetl_spark.spec import Connector, Filter, Sort

    p = op.params
    return Connector(
        adapter_id="parquet",
        endpoint_id=f"{sf_dir}/lineitem.parquet",
        fields=SLICE_FIELDS,
        filters=[Filter("l_returnflag", "=", p["flag"]), Filter("l_quantity", ">=", p["min_qty"])],
        # (l_orderkey, l_linenumber) is the key, so the order is total.
        sort=[Sort("l_extendedprice", "desc"), Sort("l_orderkey"), Sort("l_linenumber")],
        offset=p["offset"],
        limit=p["limit"],
    )


def slice_sql(op: Op) -> str:
    p = op.params
    return (
        f"SELECT {', '.join(SLICE_FIELDS)} FROM lineitem "
        f"WHERE l_returnflag = '{p['flag']}' AND l_quantity >= {p['min_qty']} "
        f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber "
        f"LIMIT {p['limit']} OFFSET {p['offset']}"
    )


def orders_connector(sf_dir: str, op: Op | None = None):
    """The versioned table's rows: all orders for the base snapshot, or
    a merge op's key range with its suffix on ``o_orderpriority``."""
    from openetl_spark.spec import Connector, Filter, Transformation

    if op is None:
        return Connector(adapter_id="parquet", endpoint_id=f"{sf_dir}/orders.parquet",
                         fields=ORDERS_FIELDS)
    p = op.params
    return Connector(
        adapter_id="parquet",
        endpoint_id=f"{sf_dir}/orders.parquet",
        fields=ORDERS_FIELDS,
        filters=[Filter("o_orderkey", "between", (p["lo"], p["hi"]))],
        transform=[Transformation("addSuffix", {"field": "o_orderpriority", "suffix": p["suffix"]})],
    )


def snapshot_sql(merges: list[Op]) -> str:
    """The versioned table after ``merges`` in order: each key carries
    the suffix of the last merge whose range holds it."""
    base = f"SELECT {', '.join(ORDERS_FIELDS)} FROM orders"
    if not merges:
        return base
    values = ", ".join(
        f"({i}, {m.params['lo']}, {m.params['hi']}, '{m.params['suffix']}')"
        for i, m in enumerate(merges)
    )
    return f"""
WITH m(i, lo, hi, sfx) AS (VALUES {values}),
last AS (
  SELECT o_orderkey, arg_max(sfx, i) AS sfx
  FROM orders JOIN m ON o_orderkey BETWEEN lo AND hi
  GROUP BY o_orderkey)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
  CASE WHEN last.sfx IS NULL THEN o.o_orderpriority
       ELSE {_js('o.o_orderpriority')} || last.sfx END AS o_orderpriority
FROM orders o LEFT JOIN last USING (o_orderkey)"""
