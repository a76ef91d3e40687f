"""PromQL binary operators: scalar-vector, vector-vector joins, set ops.

Reference semantics:
- vector-vector join: ``query/src/main/scala/filodb/query/exec/BinaryJoinExec.scala:60-239``
  (join key = on-labels, or all labels minus ignoring minus metric;
  one/many cardinality; result-key rules at :192-217)
- operator math: ``query/.../exec/binaryOp/BinaryOperatorFunction.scala:1-75``
- set operators: ``query/.../exec/SetOperatorExec.scala:34-406``
  (per-(joinkey, timestep) presence semantics)

Spark mapping: an equi hash join on ``(join_key, t)``. The join key is a
canonical string of the selected label subset, so Catalyst gets a plain
shuffled/broadcast hash join (maps are not joinable directly). At 100 TB
the "one" side of group_left and most RHS vectors are small -> AQE
broadcasts them; worst case is a shuffle hash join on (key, t), which
partitions evenly because t is in the key.

IEEE float discipline: Spark's ``/`` and ``%`` return NULL for zero
denominators (non-ANSI); PromQL follows IEEE-754 (Inf/NaN). All operator
math here goes through :func:`op_expr`, which restores IEEE semantics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def NAN() -> Column:
    return F.lit(float("nan"))
def INF() -> Column:
    return F.lit(float("inf"))
METRIC_LABEL = "__name__"

MATH_OPS = {"+", "-", "*", "/", "%", "^", "atan2"}
COMPARISON_OPS = {"==", "!=", ">", "<", ">=", "<="}


def op_expr(op: str, l: Column, r: Column) -> Column:
    """Binary operator math with IEEE-754 semantics (BinaryOperatorFunction.scala)."""
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        # NaN numerator must be tested FIRST: Spark orders NaN > 0 as true,
        # which would turn NaN/0 into Inf (IEEE: NaN)
        return F.when(r == 0.0,
                      F.when(F.isnan(l), l)
                      .when(l > 0, INF()).when(l < 0, -INF()).otherwise(NAN())
                      ).otherwise(l / r)
    if op == "%":
        return F.when(r == 0.0, NAN()).otherwise(l % r)
    if op == "^":
        return F.pow(l, r)
    if op == "atan2":
        return F.atan2(l, r)
    raise ValueError(f"unknown math operator: {op}")


def comparison_cond(op: str, l: Column, r: Column) -> Column:
    return {"==": l == r, "!=": l != r, ">": l > r, "<": l < r,
            ">=": l >= r, "<=": l <= r}[op]


def ieee_comparison_cond(op: str, l: Column, r: Column) -> Column:
    """IEEE-754 comparison: any comparison against NaN is false, except
    ``!=`` which is true. Spark ORDERS NaN instead (NaN == NaN is true,
    NaN > x is true), so the raw condition must be NaN-masked
    (BinaryOperatorSpec.scala:68-101 NaN battery)."""
    either_nan = F.isnan(l) | F.isnan(r)
    raw = comparison_cond(op, l, r)
    return (raw | either_nan) if op == "!=" else (raw & ~either_nan)


def comparison_bool_value(op: str, l: Column, r: Column) -> Column:
    """`bool`-modifier value: 1.0/0.0, except NaN when either operand is
    NaN (BinaryOperatorSpec.scala:207-246 — *_BOOL on NaN is NaN, for
    ``!=`` too)."""
    return F.when(F.isnan(l) | F.isnan(r), NAN()).otherwise(
        F.when(ieee_comparison_cond(op, l, r), 1.0).otherwise(0.0))


def scalar_op(df: DataFrame, op: str, scalar: float, scalar_on_lhs: bool = False,
              bool_modifier: bool = False, value_col: str = "value") -> DataFrame:
    """scalar-vector operation (ScalarOperationMapper,
    RangeVectorTransformer.scala:200-279). Comparisons filter, keeping the
    LHS operand value — the scalar itself when it is on the left
    (BinaryOperatorSpec.scala:184-205); `bool` variants return 1/0
    (NaN-propagating) and keep all rows."""
    v = F.col(value_col)
    s = F.lit(float(scalar))
    l, r = (s, v) if scalar_on_lhs else (v, s)
    if op in MATH_OPS:
        return df.withColumn(value_col, op_expr(op, l, r))
    if bool_modifier:
        return df.withColumn(value_col, comparison_bool_value(op, l, r))
    return df.where(ieee_comparison_cond(op, l, r)).withColumn(value_col, l)


# ---------------------------------------------------------------------------
# label-map helpers
# ---------------------------------------------------------------------------

def canonical_labels(labels: Column) -> Column:
    """Canonical sortable string for a map<string,string> — used as an
    equi-join key (maps themselves are not joinable/groupable in Spark)."""
    return F.to_json(F.map_from_entries(F.array_sort(F.map_entries(labels))))


def series_key(labels: Column) -> Column:
    """Canonical grouping/join key for a labels map as the sorted entry
    array (array<struct<key,value>> — groupable, joinable and hashable in
    Spark). Injective like the JSON string but skips the per-row JSON
    rendering: ~40% cheaper on a labels-keyed aggregation over a 720k-row
    scan (r13 measurement), and proportionally fewer shuffle bytes.
    Use for keys that stay INSIDE one query plan; canonical_labels stays
    the form for ordered presentation (sort/limit) and anything stored,
    shown, or compared as text."""
    return F.array_sort(F.map_entries(labels))


def join_key(labels: Column, on: Sequence[str] | None,
             ignoring: Sequence[str] = (), metric_label: str = METRIC_LABEL) -> Column:
    """BinaryJoinExec.scala:21-38: key = on-labels, else all minus ignoring
    minus metric name. Array-typed (series_key) — plan-internal only."""
    if on is not None:
        sub = F.map_filter(labels, lambda k, _: k.isin([*on]))
    else:
        drop = [*ignoring, metric_label]
        sub = F.map_filter(labels, lambda k, _: ~k.isin(drop))
    return series_key(sub)


def _drop_keys(labels: Column, keys: Sequence[str]) -> Column:
    return F.map_filter(labels, lambda k, _: ~k.isin([*keys]))


def _keep_keys(labels: Column, keys: Sequence[str]) -> Column:
    return F.map_filter(labels, lambda k, _: k.isin([*keys]))


def vector_binary_op(lhs: DataFrame, rhs: DataFrame, op: str,
                     on: Sequence[str] | None = None,
                     ignoring: Sequence[str] = (),
                     cardinality: str = "one-to-one",
                     include: Sequence[str] = (),
                     bool_modifier: bool = False,
                     labels_col: str = "labels", t_col: str = "t",
                     value_col: str = "value",
                     check_cardinality: bool | tuple[bool, bool] = True
                     ) -> DataFrame:
    """Vector-vector binary operation with PromQL label matching.

    Inputs/outputs use the universal layout (labels map, t, value).
    cardinality: one-to-one | many-to-one (group_left) | one-to-many
    (group_right). Many-to-many is rejected (BinaryJoinExec.scala:72).

    check_cardinality enforces the reference's duplicate-key error
    (BinaryJoinExec.scala:127-148) LAZILY: the duplicate-key frame is
    empty for legal queries, so the only added cost is one aggregation
    over the "one" side inside the query's own job — no separate driver
    action. A violation raises during execution via assert_true. Pass
    an (lhs, rhs) pair to check the sides separately: a side whose join
    keys are already proven unique (the compiler's
    _unique_join_keys) skips its aggregation, and with it a second
    evaluation of its whole subtree.
    """
    if cardinality not in ("one-to-one", "many-to-one", "one-to-many"):
        raise ValueError(f"unsupported cardinality: {cardinality}")
    jk = lambda df: df.withColumn("_jk", join_key(F.col(labels_col), on, ignoring))
    l = jk(lhs).select(F.col(labels_col).alias("_llab"), "_jk",
                       F.col(t_col).alias("t"), F.col(value_col).alias("_lv"))
    r = jk(rhs).select(F.col(labels_col).alias("_rlab"), "_jk",
                       F.col(t_col).alias("t"), F.col(value_col).alias("_rv"))

    check_l, check_r = (check_cardinality, check_cardinality) \
        if isinstance(check_cardinality, bool) else check_cardinality

    def _dups(side: DataFrame, lab: str) -> DataFrame:
        return (side.groupBy("_jk")
                    .agg(F.count_distinct(canonical_labels(F.col(lab)))
                          .alias("_n"))
                    .where(F.col("_n") > 1).select("_jk"))
    # the "one" sides: rhs for one-to-one/group_left, lhs for
    # one-to-one/group_right
    dups = []
    if check_r and cardinality != "one-to-many":
        dups.append(_dups(r, "_rlab"))
    if check_l and cardinality != "many-to-one":
        dups.append(_dups(l, "_llab"))
    err_frame = None
    if dups:
        dup = dups[0] if len(dups) == 1 else dups[0].unionByName(dups[1])
        err_frame = dup.limit(1).select(
            F.lit(None).cast("map<string,string>").alias(labels_col),
            F.lit(0).cast("long").alias("t"),
            F.assert_true(
                F.lit(False),
                F.concat(F.lit(f"Cardinality {cardinality} was used, but many "
                               "found instead of one for join key "),
                         F.col("_jk").cast("string"))).cast("double")
            .alias(value_col))

    joined = l.join(r, ["_jk", "t"], "inner")

    # result labels (BinaryJoinExec.resultKeys, :192-217)
    is_math = op in MATH_OPS
    llab, rlab = F.col("_llab"), F.col("_rlab")
    if cardinality == "one-to-one":
        res = _drop_keys(llab, [METRIC_LABEL]) if is_math else llab
        res = _keep_keys(res, on) if on is not None else _drop_keys(res, ignoring)
    else:
        many_lab, one_lab = (llab, rlab) if cardinality == "many-to-one" else (rlab, llab)
        res = _drop_keys(many_lab, [METRIC_LABEL]) if is_math else many_lab
        if include:
            # copy include-labels from the one side; empty value deletes
            inc = _keep_keys(one_lab, include)
            res = F.map_filter(
                F.map_concat(_drop_keys(res, include),
                             F.map_filter(inc, lambda k, v: v != "")),
                lambda k, v: v.isNotNull())

    lv, rv = F.col("_lv"), F.col("_rv")
    if is_math:
        out_val = op_expr(op, lv, rv)
        out = joined.select(res.alias(labels_col), "t", out_val.alias(value_col))
    else:
        if bool_modifier:
            res_b = _drop_keys(res, [METRIC_LABEL])
            out = joined.select(res_b.alias(labels_col), "t",
                                comparison_bool_value(op, lv, rv).alias(value_col))
        else:
            out = joined.where(ieee_comparison_cond(op, lv, rv)) \
                        .select(res.alias(labels_col), "t", lv.alias(value_col))
    if err_frame is not None:
        out = out.unionByName(err_frame)
    return out


# ---------------------------------------------------------------------------
# set operators (SetOperatorExec.scala:34-406)
# ---------------------------------------------------------------------------

def _valid(v: Column) -> Column:
    return ~F.isnan(v) & v.isNotNull()


def set_op(lhs: DataFrame, rhs: DataFrame, op: str,
           on: Sequence[str] | None = None, ignoring: Sequence[str] = (),
           labels_col: str = "labels", t_col: str = "t",
           value_col: str = "value") -> DataFrame:
    """and/or/unless with per-(join key, timestep) presence semantics.

    - and:    LHS samples where some RHS series shares the join key and has
              a real (non-NaN) sample at that timestep (:104-196)
    - unless: LHS samples where no such RHS sample exists (:379)
    - or:     all LHS samples, plus RHS samples whose (key, t) has NO
              real LHS sample from any series (:200-300)
    Original labels (incl. metric name) are preserved.
    """
    add_jk = lambda df: df.withColumn("_jk", join_key(F.col(labels_col), on, ignoring))
    l, r = add_jk(lhs), add_jk(rhs)
    if op in ("and", "unless"):
        r_present = (r.where(_valid(F.col(value_col)))
                      .select("_jk", F.col(t_col).alias("t")).distinct())
        how = "left_semi" if op == "and" else "left_anti"
        return (l.join(r_present, ["_jk", "t"], how)
                 .select(labels_col, "t", value_col))
    if op == "or":
        l_present = (l.where(_valid(F.col(value_col)))
                      .select("_jk", F.col(t_col).alias("t")).distinct())
        r_only = (r.join(l_present, ["_jk", "t"], "left_anti")
                   .select(labels_col, "t", value_col))
        return lhs.select(labels_col, t_col, value_col).unionByName(r_only)
    raise ValueError(f"unknown set operator: {op}")
