"""Extended scalar-function and windowing coverage (suite part 2):
string edit/pad/search, regexp, date arithmetic, null handling,
percentiles, pivot/unpivot, correlated subqueries, bitwise ops,
value-window frames, full/right outer joins, multiset set-ops.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from s2_spark.registry import query
from s2_spark.suite._util import epoch_ms, r4
from s2_spark.tables import load_views, t


@query(
    "f9_string_extra",
    oracle=(
        "SELECT c_custkey, lpad(c_mktsegment, 12, '.') AS lp, rpad(c_mktsegment, 12, '.') AS rp, "
        "reverse(c_mktsegment) AS rev, CAST(strpos(c_name, '1') AS BIGINT) AS pos1, "
        "contains(c_name, '00') AS has00, repeat(substr(c_mktsegment,1,2), 2) AS rep "
        "FROM customer ORDER BY c_custkey LIMIT 200"
    ),
    doc="lpad/rpad/reverse/position/contains/repeat",
)
def f9(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return (
        c.orderBy("c_custkey")
        .select(
            "c_custkey",
            F.lpad("c_mktsegment", 12, ".").alias("lp"),
            F.rpad("c_mktsegment", 12, ".").alias("rp"),
            F.reverse(F.col("c_mktsegment")).alias("rev"),
            F.instr("c_name", "1").cast("long").alias("pos1"),
            F.col("c_name").contains("00").alias("has00"),
            F.repeat(F.substring("c_mktsegment", 1, 2), 2).alias("rep"),
        )
        .limit(200)
    )


@query(
    "f10_regexp",
    oracle=(
        "SELECT event_id, regexp_matches(event_type, '^[a-z]+$') AS is_word, "
        "regexp_replace(props, '[aeiou]', '_', 'g') AS devowel, "
        "regexp_extract(event_type, '([a-z]+)', 1) AS first_word "
        "FROM events ORDER BY event_id LIMIT 300"
    ),
    doc="rlike / regexp_replace / regexp_extract",
)
def f10(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.orderBy("event_id")
        .select(
            "event_id",
            F.col("event_type").rlike("^[a-z]+$").alias("is_word"),
            F.regexp_replace("props", "[aeiou]", "_").alias("devowel"),
            F.regexp_extract("event_type", "([a-z]+)", 1).alias("first_word"),
        )
        .limit(300)
    )


@query(
    "f11_date_arith",
    oracle=(
        "SELECT o_orderkey, epoch_ms(o_orderdate + INTERVAL 30 DAY) AS plus30_ms, "
        "CAST(datediff('day', o_orderdate, TIMESTAMP '1997-01-01') AS BIGINT) AS days_to_97, "
        "CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow, "
        "CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr, "
        "CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS qtr "
        "FROM orders ORDER BY o_orderkey LIMIT 300"
    ),
    doc="interval add / datediff / iso weekday / year / quarter",
)
def f11(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.orderBy("o_orderkey")
        .select(
            "o_orderkey",
            epoch_ms(d + F.expr("INTERVAL 30 DAY")).alias("plus30_ms"),
            F.datediff(F.lit("1997-01-01").cast("date"), d.cast("date"))
            .cast("long")
            .alias("days_to_97"),
            (F.weekday(d) + 1).cast("long").alias("iso_dow"),
            F.year(d).cast("long").alias("yr"),
            F.quarter(d).cast("long").alias("qtr"),
        )
        .limit(300)
    )


@query(
    "f12_null_handling",
    oracle=(
        "SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st_or_null, "
        "coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st_filled, "
        "(nullif(o_orderstatus,'O') IS NULL) AS was_open "
        "FROM orders ORDER BY o_orderkey LIMIT 300"
    ),
    doc="nullif / coalesce / IS NULL",
)
def f12(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    st_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        o.orderBy("o_orderkey")
        .select(
            "o_orderkey",
            st_or_null.alias("st_or_null"),
            F.coalesce(st_or_null, F.lit("OPEN")).alias("st_filled"),
            st_or_null.isNull().alias("was_open"),
        )
        .limit(300)
    )


@query(
    "f13_percentiles",
    oracle=(
        "SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5),4) AS p50, "
        "round(quantile_cont(l_extendedprice, 0.9),4) AS p90, "
        "round(min(l_extendedprice),4) AS mn, round(max(l_extendedprice),4) AS mx "
        "FROM lineitem GROUP BY 1 ORDER BY 1"
    ),
    doc="exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)",
)
def f13(spark, sf_dir):
    # r16 (guide §5 memory): F.percentile buffers a value→count map of
    # the WHOLE group in one ObjectHashAggregate buffer (every partial
    # ships its map through the exchange) — at 100 TB a group's values
    # do not fit one buffer, and even at sf0.1 the map aggregation was
    # 3.1 s of the query's 3.4 s. Two-pass rank-based exact plan
    # instead: (1) count per distinct (flag, value) — an ordinary
    # hash aggregate; (2) running count over the value-sorted distinct
    # values (window sort spills gracefully, O(1) frame memory), pick
    # the two order statistics each percentile interpolates between.
    # The arithmetic reproduces Spark's Percentile evaluator exactly —
    # pos = q*(n-1); lo/hi = floor/ceil; result = lowerKey when hi==lo
    # or the keys are equal, else (hi-pos)*lowerKey + (pos-lo)*higherKey
    # — proven bit-identical to F.percentile on the fixtures and the
    # DuckDB oracle hash at sf0.001/0.01/0.1. NULL prices are kept as
    # one (flag, NULL) row with c = 0: it covers no rank, so it never
    # feeds a percentile, but a flag whose prices are all NULL still
    # yields its row with NULL results, as F.percentile and DuckDB do.
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    vc = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    ).agg(F.count("l_extendedprice").alias("c"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    e = vc.select(
        "l_returnflag",
        "v",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )

    def key_at(rank):
        # the row for value v covers 0-indexed ranks [cum-c, cum-1]
        return F.max(
            F.when(
                (F.col("cum") - F.col("c") <= rank) & (rank < F.col("cum")),
                F.col("v"),
            )
        )

    agg_exprs = []
    for tag, q in (("50", 0.5), ("90", 0.9)):
        p = F.lit(q) * (F.col("n") - F.lit(1)).cast("double")
        agg_exprs.append(key_at(F.floor(p)).alias(f"lk{tag}"))
        agg_exprs.append(key_at(F.ceil(p)).alias(f"hk{tag}"))
    g = e.groupBy("l_returnflag").agg(
        *agg_exprs,
        F.min("v").alias("_mn"),
        F.max("v").alias("_mx"),
        F.max("n").alias("n"),
    )

    def interp(tag, q):
        p = F.lit(q) * (F.col("n") - F.lit(1)).cast("double")
        lo, hi = F.floor(p), F.ceil(p)
        lk, hk = F.col(f"lk{tag}"), F.col(f"hk{tag}")
        return (
            F.when(hi == lo, lk)
            .when(hk == lk, lk)
            .otherwise(
                (hi.cast("double") - p) * lk + (p - lo.cast("double")) * hk
            )
        )

    return g.select(
        "l_returnflag",
        r4(interp("50", 0.5)).alias("p50"),
        r4(interp("90", 0.9)).alias("p90"),
        r4(F.col("_mn")).alias("mn"),
        r4(F.col("_mx")).alias("mx"),
    ).orderBy("l_returnflag")


@query(
    "f14_pivot",
    oracle=(
        "SELECT l_returnflag, "
        "round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0),4) AS qty_o, "
        "round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0),4) AS qty_f "
        "FROM lineitem GROUP BY 1 ORDER BY 1"
    ),
    doc="pivot (Spark .pivot ≡ filtered aggregates)",
)
def f14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return pv.select(
        "l_returnflag",
        r4(F.coalesce(F.col("O"), F.lit(0.0))).alias("qty_o"),
        r4(F.coalesce(F.col("F"), F.lit(0.0))).alias("qty_f"),
    ).orderBy("l_returnflag")


@query(
    "f15_unpivot",
    oracle=(
        "SELECT c_custkey, metric, round(val,4) AS val FROM ("
        "SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer "
        "UNION ALL SELECT c_custkey, 'namelen', CAST(length(c_name) AS DOUBLE) FROM customer"
        ") ORDER BY c_custkey, metric"
    ),
    doc="unpivot/stack to long form",
)
def f15(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    long_df = c.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', c_acctbal, 'namelen', CAST(length(c_name) AS DOUBLE)) "
            "AS (metric, val)"
        ),
    )
    return long_df.select("c_custkey", "metric", r4(F.col("val")).alias("val")).orderBy(
        "c_custkey", "metric"
    )


@query(
    "f16_correlated_subquery",
    oracle=(
        "SELECT o_orderkey FROM orders o WHERE o_totalprice > "
        "(SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) "
        "ORDER BY o_orderkey"
    ),
    doc="correlated scalar subquery (decorrelated by Catalyst into an agg+join)",
)
def f16(spark, sf_dir):
    load_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderkey FROM orders o WHERE o_totalprice > "
        "(SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) "
        "ORDER BY o_orderkey"
    )


@query(
    "f17_bitwise",
    oracle=(
        "SELECT event_id, event_id & 255 AS lo, event_id | 4096 AS hi, "
        "xor(event_id, 1365) AS x, event_id << 2 AS shl, event_id >> 3 AS shr, "
        "CAST(bit_count(event_id) AS BIGINT) AS pc "
        "FROM events ORDER BY event_id LIMIT 300"
    ),
    doc="bitwise and/or/xor/shifts/popcount",
)
def f17(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    eid = F.col("event_id")
    return (
        e.orderBy("event_id")
        .select(
            "event_id",
            eid.bitwiseAND(F.lit(255)).alias("lo"),
            eid.bitwiseOR(F.lit(4096)).alias("hi"),
            eid.bitwiseXOR(F.lit(1365)).alias("x"),
            F.shiftleft(eid, 2).alias("shl"),
            F.shiftright(eid, 3).alias("shr"),
            F.bit_count(eid).cast("long").alias("pc"),
        )
        .limit(300)
    )


@query(
    "w8_first_last_nth",
    oracle=(
        "SELECT o_orderkey, first_value(o_orderkey) OVER w AS first_ok, "
        "last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok, "
        "nth_value(o_orderkey, 2) OVER w AS second_ok "
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "ORDER BY o_orderkey"
    ),
    doc="first/last/nth value with explicit frames",
)
def w8(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        o.select(
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(wfull).alias("last_ok"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "w9_range_frame",
    oracle=(
        "SELECT event_id, CAST(count(*) OVER (ORDER BY event_id "
        "RANGE BETWEEN 10 PRECEDING AND 10 FOLLOWING) AS BIGINT) AS in_range "
        "FROM events WHERE user_id = 5 ORDER BY event_id"
    ),
    doc="value-RANGE window frame (±10 on the ordering key)",
)
def w9(spark, sf_dir):
    # Bounded RANGE frame (±10 order-units) without a global window:
    # chunk the order key, and duplicate rows within 10 units of a chunk
    # boundary into the neighboring chunk as halo rows, so every row's
    # frame is fully visible inside its own chunk partition. Halo copies
    # are dropped after the windowed count (they only feed neighbors'
    # frames). The halo trick generalizes any bounded frame; unbounded
    # frames use operators/prefix.chunked_running instead.
    e = t(spark, sf_dir, "events").filter(F.col("user_id") == 5).select("event_id")
    C, H = 8192, 10
    chunk = F.floor(F.col("event_id") / F.lit(C)).cast("long")
    own = e.withColumn("_ck", chunk).withColumn("_halo", F.lit(0))
    lo = (
        e.filter(F.col("event_id") % C < H)
        .withColumn("_ck", chunk - 1)
        .withColumn("_halo", F.lit(1))
    )
    hi = (
        e.filter(F.col("event_id") % C >= C - H)
        .withColumn("_ck", chunk + 1)
        .withColumn("_halo", F.lit(1))
    )
    w = W.partitionBy("_ck").orderBy("event_id").rangeBetween(-H, H)
    return (
        own.unionByName(lo).unionByName(hi)
        .withColumn("in_range", F.count("*").over(w).cast("long"))
        .filter(F.col("_halo") == 0)
        .select("event_id", "in_range")
        .orderBy("event_id")
    )


@query(
    "w10_percent_rank",
    oracle=(
        "SELECT c_custkey, round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey),4) AS pr, "
        "round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey),4) AS cd "
        "FROM customer ORDER BY c_custkey"
    ),
    doc="percent_rank / cume_dist",
)
def w10(spark, sf_dir):
    from s2_spark.operators.prefix import chunked_row_number

    # unique order key => rank == row_number, so percent_rank =
    # (rn-1)/(N-1) and cume_dist = rn/N from the distributed global row
    # number — no global single-partition window; N is a 1-row broadcast
    c = t(spark, sf_dir, "customer")
    rn = chunked_row_number(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"], "rn",
        chunk=F.floor(F.col("c_acctbal") / F.lit(500)).cast("long"),
    )
    total = c.agg(F.count("*").alias("_n"))
    d = rn.crossJoin(F.broadcast(total))
    pr = F.when(
        F.col("_n") > 1,
        (F.col("rn") - 1).cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cd = F.col("rn").cast("double") / F.col("_n").cast("double")
    return (
        d.select("c_custkey", r4(pr).alias("pr"), r4(cd).alias("cd"))
        .orderBy("c_custkey")
    )


@query(
    "f18_array_advanced",
    oracle=(
        "SELECT event_id, array_to_string(list_sort(list_distinct(string_split(props,' '))), '-') AS joined, "
        "CAST(length(list_distinct(string_split(props,' '))) AS BIGINT) AS ndistinct, "
        "list_sort(string_split(props,' '))[1] AS smallest "
        "FROM events ORDER BY event_id LIMIT 200"
    ),
    doc="array sort/distinct/join/index",
)
def f18(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    toks = F.split("props", " ")
    return (
        e.orderBy("event_id")
        .select(
            "event_id",
            F.array_join(F.array_sort(F.array_distinct(toks)), "-").alias("joined"),
            F.size(F.array_distinct(toks)).cast("long").alias("ndistinct"),
            F.array_sort(toks)[0].alias("smallest"),
        )
        .limit(200)
    )


@query(
    "f19_math_extra",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "round(ln(l_extendedprice),4) AS lnp, round(exp(l_discount),4) AS expd, "
        "round(power(l_quantity, 2),4) AS q2, round(sqrt(l_quantity),4) AS sq, "
        "CAST(l_orderkey % 7 AS BIGINT) AS m7, "
        "round(greatest(l_discount, l_tax),4) AS gmax, round(least(l_discount, l_tax),4) AS gmin "
        # ORDER BY every output column: (l_orderkey, l_linenumber) is
        # NOT unique in the fixtures, so the two-key order was not
        # total and the LIMIT could cut a tie group differently per
        # engine (same f3 defect — r13 oracle total-order audit)
        "FROM lineitem ORDER BY 1,2,3,4,5,6,7,8,9 LIMIT 400"
    ),
    doc="ln/exp/pow/sqrt/mod/greatest/least",
)
def f19(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            r4(F.log(F.col("l_extendedprice"))).alias("lnp"),
            r4(F.exp("l_discount")).alias("expd"),
            r4(F.pow("l_quantity", F.lit(2))).alias("q2"),
            r4(F.sqrt("l_quantity")).alias("sq"),
            (F.col("l_orderkey") % 7).cast("long").alias("m7"),
            r4(F.greatest("l_discount", "l_tax")).alias("gmax"),
            r4(F.least("l_discount", "l_tax")).alias("gmin"),
        )
        .orderBy(
            "l_orderkey", "l_linenumber", "lnp", "expd", "q2", "sq",
            "m7", "gmax", "gmin",
        )
        .limit(400)
    )


@query(
    "ag14_min_by_array_agg",
    oracle=(
        "SELECT user_id, (list(event_id ORDER BY value, event_id))[1] AS cheapest_ev, "
        "list_sort(list(event_type ORDER BY event_id))[1] AS first_et_sorted, "
        "CAST(length(list(DISTINCT event_type)) AS BIGINT) AS n_types "
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    doc="min_by (struct key: deterministic under value ties) + ordered/distinct array aggregation",
)
def ag14(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.min_by("event_id", F.struct("value", "event_id")).alias("cheapest_ev"),
            F.array_sort(F.collect_list("event_type"))[0].alias("first_et_sorted"),
            F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
        )
        .orderBy("user_id")
    )


@query(
    "st8_combined_read_limits",
    oracle=(
        "SELECT event_id FROM ("
        "SELECT event_id, sum(8 + length(props)) OVER "
        "(ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
        "FROM events WHERE event_id >= 500 AND ts < TIMESTAMP '2024-01-25'"
        ") WHERE cum <= 5000 ORDER BY event_id LIMIT 30"
    ),
    doc=(
        "A7 with every bound at once: seq start + until-timestamp + "
        "metered-bytes window + count — the full EvaluatedReadLimit shape"
    ),
)
def st8(spark, sf_dir):
    from s2_spark.operators.prefix import chunked_running

    e = t(spark, sf_dir, "events")
    # cumulative metered bytes via the chunked two-phase prefix — the
    # same scale-safe shape as the engine's read bytes-limit cutoff
    filtered = e.filter(
        (F.col("event_id") >= 500)
        & (F.col("ts").cast("timestamp") < F.lit("2024-01-25").cast("timestamp"))
    )
    d = chunked_running(
        filtered.withColumn("_m", F.lit(8) + F.length("props")),
        ["event_id"], "_m", "cum", kind="sum", chunk_width=8192,
    )
    return (
        d.filter(F.col("cum") <= 5000)
        .select("event_id")
        .orderBy("event_id")
        .limit(30)
    )


@query(
    "j10_right_outer",
    oracle=(
        "SELECT n.n_name, count(s.s_suppkey) AS n_supp FROM supplier s "
        "RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "GROUP BY 1 ORDER BY 1"
    ),
    doc="right outer join (nations without suppliers keep count 0)",
)
def j10(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_supp"))
        .orderBy("n_name")
    )


@query(
    "j9_full_outer",
    oracle=(
        "SELECT coalesce(a.k, b.k) AS k, a.n AS n_cust, b.n AS n_supp FROM "
        "(SELECT c_nationkey AS k, count(*) AS n FROM customer GROUP BY 1) a "
        "FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n FROM supplier GROUP BY 1) b "
        "ON a.k = b.k ORDER BY k"
    ),
    doc="full outer join of per-nation counts",
)
def j9(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "k", "full_outer")
        .select("k", "n_cust", "n_supp")
        .orderBy("k")
    )


@query(
    "j11_asof_generalized",
    oracle=(
        "SELECT e.event_id, epoch_ms(o.o_orderdate) AS asof_odate_ms "
        "FROM events e ASOF LEFT JOIN orders o "
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate "
        "ORDER BY e.event_id"
    ),
    doc=(
        "generalized per-key as-of join (operators/asof.py) vs DuckDB's "
        "native ASOF JOIN: every event gets the most recent order "
        "at-or-before its time for its user; union + running-window "
        "fold, no theta join"
    ),
)
def j11(spark, sf_dir):
    from s2_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("evt_ts"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("evt_ts"),
        F.col("o_orderdate").cast("timestamp").alias("odate"),
    )
    joined = asof_join(e, o, on="evt_ts", by=["k"], direction="backward")
    return joined.select(
        "event_id", epoch_ms(F.col("r_odate")).alias("asof_odate_ms")
    ).orderBy("event_id")


@query(
    "set4_intersect_all",
    oracle=(
        "SELECT x FROM (SELECT c_nationkey AS x FROM customer) "
        "INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY x"
    ),
    doc="INTERSECT ALL (multiset semantics)",
)
def set4(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("x"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("x"))
    return c.intersectAll(s).orderBy("x")


@query(
    "set5_except_all",
    oracle=(
        "SELECT x FROM (SELECT o_orderstatus AS x FROM orders LIMIT 0) "
        "UNION ALL "
        "SELECT x FROM (SELECT o_orderstatus AS x FROM orders ORDER BY o_orderkey LIMIT 100) "
        "EXCEPT ALL SELECT o_orderstatus FROM orders WHERE o_orderkey <= 30 ORDER BY x"
    ),
    doc="EXCEPT ALL multiset difference on status codes",
)
def set5(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    first100 = o.orderBy("o_orderkey").limit(100).select(F.col("o_orderstatus").alias("x"))
    sub = o.filter(F.col("o_orderkey") <= 30).select(F.col("o_orderstatus").alias("x"))
    return first100.exceptAll(sub).orderBy("x")
