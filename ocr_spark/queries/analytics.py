"""Relational and product-analytics driver queries over the TPC-H-shaped
tables and the events table (aggregates, joins, windows, cohorts,
funnels, sessions, rollups), each beside its DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ocr_spark.queries.common import _docs, _tbl, oracle


# Retention cohorts (P54): the classic product-analytics cohort
# matrix — users grouped by their first-activity week, counted again at
# every later week offset.  Reference parity: none (beyond-parity
# analytics tier, like funnel/sessionize).  Scale shape: ONE scan, one
# hash exchange on user_id for the per-user first-week window, then a
# distinct-user aggregate on the tiny (cohort, offset) key space —
# output is O(weeks^2) rows regardless of corpus size.  Week ids are
# integer microsecond arithmetic (unix_micros div week), so both
# engines bucket identically with no timezone or float drift.
_WEEK_US = 604_800_000_000  # microseconds per week


@oracle(f"""
            WITH x AS (
              SELECT user_id,
                     epoch_us(ts) // {_WEEK_US} AS wk,
                     min(epoch_us(ts) // {_WEEK_US})
                       OVER (PARTITION BY user_id) AS cohort_week
              FROM events
            )
            SELECT cohort_week, wk - cohort_week AS week_offset,
                   count(DISTINCT user_id)::BIGINT AS n_users,
                   count(*)::BIGINT AS n_events
            FROM x GROUP BY 1, 2
        """)
def q_retention_cohorts(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    wk = F.expr(f"unix_micros(cast(ts as timestamp)) div {_WEEK_US}")
    w = Window.partitionBy("user_id")
    x = ev.select("user_id", wk.alias("wk"))
    x = x.withColumn("cohort_week", F.min("wk").over(w))
    return (
        x.groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


# Robust outlier flags (P55): per-event-type 3-sigma outliers with the
# whole test in INTEGER arithmetic — values fixed-pointed per row
# (floor(value*100)), mean_fp = sum div n, variance_fp = sum(dev^2)
# div n, and the flag is dev^2 > 9 * variance_fp (3 sigma, both sides
# integer — no sqrt, no float division to diverge between engines).
# Scale shape: the narrow (event_id, type, v_fp) projection is
# materialized ONCE (localCheckpoint — both the stats pass and the
# deviation pass read it); the per-type stats tables are 5 rows and
# BROADCAST back onto the linear scan twice.  int64 headroom: dev^2
# sums overflow only past ~4e11 rows per type; beyond that the
# production path merges per-partition (n, sum, sum_sq) partials in
# decimal — noted, not needed at any sandbox sf.
@oracle("""
            WITH b AS (
              SELECT event_id, event_type,
                     floor(value * 100)::BIGINT AS v_fp
              FROM events
            ),
            s AS (
              SELECT event_type, count(*)::BIGINT AS n,
                     (sum(v_fp) // count(*))::BIGINT AS mean_fp
              FROM b GROUP BY 1
            ),
            j AS (
              SELECT b.event_type, b.event_id, s.n, s.mean_fp,
                     b.v_fp - s.mean_fp AS dev
              FROM b JOIN s USING (event_type)
            ),
            v AS (
              SELECT event_type,
                     (sum(dev * dev) // max(n))::BIGINT AS var_fp
              FROM j GROUP BY 1
            )
            SELECT j.event_type, j.n, j.mean_fp, v.var_fp,
                   sum(CASE WHEN dev * dev > 9 * var_fp
                            THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                   sum(CASE WHEN dev * dev > 9 * var_fp
                            THEN event_id ELSE 0 END)::BIGINT
                     AS outlier_id_sum
            FROM j JOIN v USING (event_type)
            GROUP BY 1, 2, 3, 4
        """)
def q_outlier_events(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_fp"),
    ).localCheckpoint(eager=False)
    stats = (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_fp").cast("long").alias("s"),
        )
        .withColumn("mean_fp", F.expr("s div n").cast("long"))
        .drop("s")
    )
    j = base.join(F.broadcast(stats), "event_type").withColumn(
        "dev", F.col("v_fp") - F.col("mean_fp")
    )
    var_t = j.groupBy("event_type").agg(
        F.expr("sum(dev * dev) div max(n)").cast("long").alias("var_fp")
    )
    flag = F.col("dev") * F.col("dev") > 9 * F.col("var_fp")
    return (
        j.join(F.broadcast(var_t), "event_type")
        .groupBy("event_type", "n", "mean_fp", "var_fp")
        .agg(
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.sum(F.when(flag, F.col("event_id")).otherwise(F.lit(0)))
            .cast("long")
            .alias("outlier_id_sum"),
        )
    )


# Pareto frontier / skyline (P56): users not dominated on the
# (total spend, event count) plane — b dominates a iff b >= a on both
# dims and > on at least one.  Spark side is the scale formulation:
# per-user aggregate -> distinct points -> LOCAL skyline per salt
# partition (the global skyline is a subset of the union of partition
# skylines, so local pruning is lossless) -> global skyline over the
# tiny survivor set.  Both windows use the same ordering trick: over
# distinct points ordered (s desc, c desc), a point is dominated iff
# max(c) over the strictly-preceding rows >= its own c.  The oracle is
# the INDEPENDENT quadratic ground truth (NOT EXISTS dominance
# anti-join), so the window algebra is verified against the definition
# rather than against itself.
@oracle("""
            WITH u AS (
              SELECT user_id,
                     sum(floor(value * 100)::BIGINT)::BIGINT AS s_fp,
                     count(*)::BIGINT AS n_events
              FROM events GROUP BY 1
            ),
            p AS (
              SELECT s_fp, n_events,
                     count(*)::BIGINT AS n_users,
                     min(user_id)::BIGINT AS min_user
              FROM u GROUP BY 1, 2
            )
            SELECT s_fp, n_events, n_users, min_user
            FROM p a
            WHERE NOT EXISTS (
              SELECT 1 FROM p b
              WHERE b.s_fp >= a.s_fp AND b.n_events >= a.n_events
                AND (b.s_fp > a.s_fp OR b.n_events > a.n_events))
        """)
def q_pareto_frontier(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("s_fp"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    pts = users.groupBy("s_fp", "n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("user_id").cast("long").alias("min_user"),
    )
    prior = Window.rowsBetween(Window.unboundedPreceding, -1)
    # local pruning: partition skylines are a lossless superset filter
    local = Window.partitionBy("salt").orderBy(
        F.col("s_fp").desc(), F.col("n_events").desc()
    )
    cand = (
        pts.withColumn("salt", F.pmod(F.col("s_fp"), F.lit(64)))
        .withColumn("lb", F.max("n_events").over(local.rowsBetween(
            Window.unboundedPreceding, -1)))
        .filter(F.col("lb").isNull() | (F.col("n_events") > F.col("lb")))
        .drop("salt", "lb")
    )
    glob = Window.orderBy(F.col("s_fp").desc(), F.col("n_events").desc())
    gb = F.max("n_events").over(glob.rowsBetween(Window.unboundedPreceding, -1))
    return (
        cand.withColumn("gb", gb)
        .filter(F.col("gb").isNull() | (F.col("n_events") > F.col("gb")))
        .drop("gb")
    )


# Table profile (P57): one-pass column profiling — per column the row
# count, null count, exact distinct count, and typed min/max — the
# data-quality / schema-drift primitive every ingest pipeline runs
# before trusting a drop.  Spark side reads the table ONCE and unpivots
# via stack() into (col_name, is_null, num_val, str_val) rows (numerics
# and timestamps land in num_val as unix micros, strings in str_val —
# min/max stay typed, no lossy stringification); one hash aggregate on
# the 5-key col_name space.  The oracle is the independent formulation:
# five per-column aggregate scans UNION ALL'd.  Exact distinct is the
# verification-grade choice; the 100 TB profile swaps it for the HLL
# sketch (P29) — documented, same plumbing.
@oracle("""
            SELECT 'event_id' AS col_name, count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_null,
                   count(DISTINCT event_id)::BIGINT AS n_distinct,
                   min(event_id)::BIGINT AS min_num,
                   max(event_id)::BIGINT AS max_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str
            FROM events
            UNION ALL
            SELECT 'user_id', count(*)::BIGINT,
                   sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT user_id)::BIGINT,
                   min(user_id)::BIGINT, max(user_id)::BIGINT,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'ts_us', count(*)::BIGINT,
                   sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT ts)::BIGINT,
                   min(epoch_us(ts))::BIGINT, max(epoch_us(ts))::BIGINT,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', count(*)::BIGINT,
                   sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT event_type)::BIGINT,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   min(event_type), max(event_type)
            FROM events
            UNION ALL
            SELECT 'props', count(*)::BIGINT,
                   sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT props)::BIGINT,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   min(props), max(props)
            FROM events
        """)
def q_table_profile(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    stacked = ev.select(
        F.expr(
            "stack(5,"
            " 'event_id', event_id is null, event_id,"
            "   cast(null as string),"
            " 'user_id', user_id is null, user_id,"
            "   cast(null as string),"
            " 'ts_us', ts is null, unix_micros(cast(ts as timestamp)),"
            "   cast(null as string),"
            " 'event_type', event_type is null, cast(null as bigint),"
            "   event_type,"
            " 'props', props is null, cast(null as bigint), props"
            ") as (col_name, is_null, num_val, str_val)"
        )
    )
    return stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("is_null"), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        (F.countDistinct("num_val") + F.countDistinct("str_val"))
        .cast("long")
        .alias("n_distinct"),
        F.min("num_val").cast("long").alias("min_num"),
        F.max("num_val").cast("long").alias("max_num"),
        F.min("str_val").alias("min_str"),
        F.max("str_val").alias("max_str"),
    )


# Trend slopes (P58): per-event-type weekly volume trend as an EXACT
# least-squares slope — num = n*Sxy - Sx*Sy, den = n*Sxx - Sx^2 over
# (week index, weekly count) points, slope in integer ppm.  The whole
# regression is closed-form integer arithmetic (x is a small week
# index, y a count), so both engines produce bit-identical slopes —
# the trick that makes a "statistics" operator value-hash-verifiable.
# Scale shape: one scan -> (type, week) hash agg (tiny key space) ->
# per-type second agg; nothing grows with corpus size after the first
# aggregate.  den > 0 whenever a type spans >= 2 weeks; single-week
# types yield NULL slope rather than a division blowup.
@oracle(f"""
            WITH weekly AS (
              SELECT event_type,
                     epoch_us(ts) // {_WEEK_US} AS wk,
                     count(*)::BIGINT AS y
              FROM events GROUP BY 1, 2
            ),
            xs AS (
              SELECT event_type, y,
                     wk - min(wk) OVER (PARTITION BY event_type) AS x
              FROM weekly
            ),
            a AS (
              SELECT event_type,
                     count(*)::BIGINT AS n_weeks,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
              FROM xs GROUP BY 1
            )
            SELECT event_type, n_weeks, sy,
                   (n_weeks * sxy - sx * sy)::BIGINT AS slope_num,
                   (n_weeks * sxx - sx * sx)::BIGINT AS slope_den,
                   CASE WHEN n_weeks * sxx - sx * sx > 0
                        THEN ((1000000 * (n_weeks * sxy - sx * sy))
                              // (n_weeks * sxx - sx * sx))::BIGINT
                        ELSE NULL END AS slope_ppm
            FROM a
        """)
def q_trend_slope(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    wk = F.expr(f"unix_micros(cast(ts as timestamp)) div {_WEEK_US}")
    weekly = ev.groupBy("event_type", wk.alias("wk")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    wmin = Window.partitionBy("event_type")
    weekly = weekly.withColumn("x", F.col("wk") - F.min("wk").over(wmin))
    agg = weekly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n_weeks") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "event_type",
        "n_weeks",
        "sy",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(
            den > 0,
            F.expr(
                "(1000000 * (n_weeks * sxy - sx * sy))"
                " div (n_weeks * sxx - sx * sx)"
            ),
        ).cast("long").alias("slope_ppm"),
    )


# Sketch-driven decile assignment (P71): the downstream half of the
# quantile story — the mergeable fixed-point histogram (P-quantile
# class, q_quantile_sketch) yields the 9 global decile EDGES, which
# broadcast as ONE array row back onto a linear scan; each event's
# decile is size(filter(edges, e -> v > e)) + 1, a pure array
# expression with no row blowup and no second shuffle.  The per-decile
# output (counts, sums, min/max) exhibits the assignment.  The
# histogram's cumulative window is single-partition but HISTOGRAM-
# sized (≤ 49k distinct fixed-point buckets — bounded by value range,
# not corpus size), which is exactly why the histogram form is the
# quantile path at 100 TB.  Rank thresholds in ceil-integer form.
@oracle("""
            WITH v AS (SELECT floor(value * 100)::BIGINT AS v_fp FROM events),
            hist AS (SELECT v_fp AS bucket, count(*) AS cnt FROM v GROUP BY 1),
            cum AS (
              SELECT bucket,
                     sum(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum,
                     sum(cnt) OVER () AS n
              FROM hist
            ),
            e AS (
              SELECT t.k,
                     min(CASE WHEN cum.cum >= (t.k * cum.n + 9) // 10
                              THEN cum.bucket END) AS edge
              FROM cum, range(1, 10) t(k) GROUP BY t.k
            ),
            el AS (SELECT list(edge ORDER BY k) AS edges FROM e)
            SELECT decile, count(*)::BIGINT AS n_events,
                   sum(v_fp)::BIGINT AS sum_fp,
                   min(v_fp)::BIGINT AS min_fp,
                   max(v_fp)::BIGINT AS max_fp
            FROM (
              SELECT v.v_fp,
                     (len(list_filter(el.edges, x -> v.v_fp > x)) + 1)::BIGINT
                       AS decile
              FROM v, el
            )
            GROUP BY 1
        """)
def q_decile_assign(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100).cast("long").alias("v_fp")
    ).localCheckpoint(eager=False)
    hist = ev.groupBy(F.col("v_fp").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy()
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({k} * n + 9) div 10"),
                F.col("bucket"),
            )
        ).alias(f"e{k}")
        for k in range(1, 10)
    ]
    edges = cum.agg(*picks).select(
        F.array(*[F.col(f"e{k}") for k in range(1, 10)]).alias("edges")
    )
    assigned = ev.crossJoin(F.broadcast(edges)).select(
        "v_fp",
        (F.expr("size(filter(edges, e -> v_fp > e))") + 1)
        .cast("long")
        .alias("decile"),
    )
    return assigned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v_fp").cast("long").alias("sum_fp"),
        F.min("v_fp").cast("long").alias("min_fp"),
        F.max("v_fp").cast("long").alias("max_fp"),
    )


# Incremental aggregate maintenance (P70): the materialized-view
# pattern — a standing per-type aggregate (n, sum, min, max, sum of
# squares) is maintained by MERGING the base period's partial state
# with the delta period's partial state, never by recomputing over the
# full history.  Here the events log splits at day 15: both partials
# aggregate independently (at 100 TB the base partial is a stored
# table, only the delta scans), merge algebraically (sums add, min/max
# fold), and the output carries the merged state BESIDE a full
# recompute with a `consistent` flag proving merge == recompute —
# the algebraic property that makes every sketch in this suite
# (P21/P28/P29/P67) and map-side combine itself work.  All values
# fixed-pointed per row; ss_fp headroom to ~4e11 rows (P55 note).
@oracle("""
            WITH ev AS (
              SELECT event_type,
                     date_part('day', ts) <= 15 AS is_base,
                     floor(value * 100)::BIGINT AS v_fp
              FROM events
            ),
            parts AS (
              SELECT event_type, is_base,
                     count(*)::BIGINT AS n, sum(v_fp)::BIGINT AS s,
                     min(v_fp)::BIGINT AS mn, max(v_fp)::BIGINT AS mx,
                     sum(v_fp * v_fp)::BIGINT AS ss
              FROM ev GROUP BY 1, 2
            ),
            merged AS (
              SELECT event_type,
                     sum(n)::BIGINT AS n, sum(s)::BIGINT AS s,
                     min(mn)::BIGINT AS mn, max(mx)::BIGINT AS mx,
                     sum(ss)::BIGINT AS ss
              FROM parts GROUP BY 1
            ),
            fullagg AS (
              SELECT event_type,
                     count(*)::BIGINT AS fn, sum(v_fp)::BIGINT AS fs,
                     min(v_fp)::BIGINT AS fmn, max(v_fp)::BIGINT AS fmx,
                     sum(v_fp * v_fp)::BIGINT AS fss
              FROM ev GROUP BY 1
            )
            SELECT m.event_type, m.n, m.s, m.mn, m.mx, m.ss,
                   (m.n = f.fn AND m.s = f.fs AND m.mn = f.fmn
                    AND m.mx = f.fmx AND m.ss = f.fss) AS consistent
            FROM merged m JOIN fullagg f USING (event_type)
        """)
def q_incremental_agg(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofmonth(F.col("ts").cast("timestamp")) <= 15).alias("is_base"),
        F.floor(F.col("value") * 100).cast("long").alias("v_fp"),
    ).localCheckpoint(eager=False)

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_fp").cast("long").alias("s"),
            F.min("v_fp").cast("long").alias("mn"),
            F.max("v_fp").cast("long").alias("mx"),
            F.sum(F.col("v_fp") * F.col("v_fp")).cast("long").alias("ss"),
        )

    parts = ev.groupBy("event_type", "is_base").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_fp").cast("long").alias("s"),
        F.min("v_fp").cast("long").alias("mn"),
        F.max("v_fp").cast("long").alias("mx"),
        F.sum(F.col("v_fp") * F.col("v_fp")).cast("long").alias("ss"),
    )
    merged = parts.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.min("mn").cast("long").alias("mn"),
        F.max("mx").cast("long").alias("mx"),
        F.sum("ss").cast("long").alias("ss"),
    )
    full = partial(ev).select(
        "event_type",
        F.col("n").alias("fn"), F.col("s").alias("fs"),
        F.col("mn").alias("fmn"), F.col("mx").alias("fmx"),
        F.col("ss").alias("fss"),
    )
    return merged.join(full, "event_type").select(
        "event_type", "n", "s", "mn", "mx", "ss",
        (
            (F.col("n") == F.col("fn")) & (F.col("s") == F.col("fs"))
            & (F.col("mn") == F.col("fmn")) & (F.col("mx") == F.col("fmx"))
            & (F.col("ss") == F.col("fss"))
        ).alias("consistent"),
    )


# Set operations (P65): INTERSECT / EXCEPT as first-class relational
# operators (the §2.7 inventory previously exercised only union and
# anti-join).  Source sets of two language slices are compared with the
# native DataFrame set ops (intersect / subtract — both DISTINCT
# semantics, matching SQL INTERSECT/EXCEPT), results folded to one row
# per operation with a sorted member list so both engines compare
# scalars.  Scale shape: set ops hash-partition on the full row — the
# inputs here are distinct-projected first, so the shuffled sets are
# vocabulary-sized, never corpus-sized.
@oracle("""
            WITH a AS (SELECT DISTINCT source FROM documents
                       WHERE lang = 'en'),
            b AS (SELECT DISTINCT source FROM documents WHERE lang = 'fr'),
            i AS (SELECT source FROM a INTERSECT SELECT source FROM b),
            ea AS (SELECT source FROM a EXCEPT SELECT source FROM b),
            eb AS (SELECT source FROM b EXCEPT SELECT source FROM a)
            SELECT 'intersect' AS op, count(source)::BIGINT AS n_sources,
                   coalesce(string_agg(source, ',' ORDER BY source), '')
                     AS src_list FROM i
            UNION ALL
            SELECT 'except_en', count(source)::BIGINT,
                   coalesce(string_agg(source, ',' ORDER BY source), '')
            FROM ea
            UNION ALL
            SELECT 'except_fr', count(source)::BIGINT,
                   coalesce(string_agg(source, ',' ORDER BY source), '')
            FROM eb
        """)
def q_set_ops(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("lang") == "en").select("source").distinct()
    b = d.filter(F.col("lang") == "fr").select("source").distinct()

    def fold(df, op):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.coalesce(
                F.concat_ws(",", F.array_sort(F.collect_list("source"))),
                F.lit(""),
            ).alias("src_list"),
        ).select(F.lit(op).alias("op"), "n_sources", "src_list")

    return (
        fold(a.intersect(b), "intersect")
        .unionByName(fold(a.subtract(b), "except_en"))
        .unionByName(fold(b.subtract(a), "except_fr"))
    )


# Time-series gap fill (P66): the LOCF (last-observation-carried-
# forward) backfill every sensor/metrics pipeline runs — build each
# user's dense hourly grid between their first and last event
# (sequence() explode, no driver work), left-join the sparse hourly
# aggregate, and forward-fill the value with last(ignorenulls) over the
# per-user hour order.  Gap hours report n_events = 0, is_gap = true,
# and the carried value.  Scale shape: the grid explode is linear in
# (users x span), the join is co-partitioned on (user_id, h), and the
# LOCF window reuses the same user partitioning; values fixed-pointed
# per row.  The oracle builds the same grid via a bounded range join
# (spans here are <= 720 h; the 1000-row bound fails LOUDLY via row
# counts if the corpus ever widens).
_HOUR_US = 3_600_000_000


@oracle(f"""
            WITH hourly AS (
              SELECT user_id, epoch_us(ts) // {_HOUR_US} AS h,
                     count(*)::BIGINT AS n_events,
                     sum(floor(value * 100)::BIGINT)::BIGINT AS v_fp
              FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1
                       FROM hourly GROUP BY 1),
            hrs AS (SELECT r FROM range(0, 1000) t(r)),
            grid AS (
              SELECT b.user_id, b.h0 + hrs.r AS h
              FROM bounds b JOIN hrs ON hrs.r <= b.h1 - b.h0
            ),
            j AS (
              SELECT g.user_id, g.h, hourly.n_events, hourly.v_fp
              FROM grid g LEFT JOIN hourly
                ON g.user_id = hourly.user_id AND g.h = hourly.h
            )
            SELECT user_id, h,
                   coalesce(n_events, 0)::BIGINT AS n_events,
                   last_value(v_fp IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS locf_fp,
                   v_fp IS NULL AS is_gap
            FROM j
        """)
def q_gap_fill(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    h = F.expr(f"unix_micros(cast(ts as timestamp)) div {_HOUR_US}")
    hourly = ev.groupBy("user_id", h.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v_fp"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.expr("sequence(h0, h1)")).alias("h")
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("v_fp", ignorenulls=True).over(w).cast("long").alias("locf_fp"),
        F.col("v_fp").isNull().alias("is_gap"),
    )


# A/B chi-square test (P60): two-proportion significance over a 2x2
# contingency table (variant = user parity, conversion = any purchase
# event) — Pearson chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)), held in
# INTEGER milli-units end to end (the 5%-critical-value gate compares
# chi2_milli > 3841), so the verdict cannot drift between engines.
# Scale shape: per-user conversion flags are one hash agg on user_id,
# the 2x2 table is a 2-row aggregate, and the test itself is driver-free
# scalar arithmetic on a 1-row frame.  int64 headroom covers ~1e5 users
# per cell; past that the production path computes the cell products in
# decimal — same note as the P55 variance sums.
@oracle("""
            WITH conv AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
              FROM events GROUP BY 1
            ),
            cells AS (
              SELECT user_id % 2 AS variant,
                     count(*)::BIGINT AS n_users,
                     sum(converted)::BIGINT AS n_conv
              FROM conv GROUP BY 1
            ),
            t AS (
              SELECT
                sum(CASE WHEN variant = 0 THEN n_conv END)::BIGINT AS a,
                sum(CASE WHEN variant = 0 THEN n_users - n_conv END)::BIGINT AS b,
                sum(CASE WHEN variant = 1 THEN n_conv END)::BIGINT AS c,
                sum(CASE WHEN variant = 1 THEN n_users - n_conv END)::BIGINT AS d
              FROM cells
            )
            SELECT a, b, c, d, (a + b + c + d)::BIGINT AS n,
                   (CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
                         THEN (1000 * (a + b + c + d) * (a * d - b * c)
                               * (a * d - b * c))
                              // ((a + b) * (c + d) * (a + c) * (b + d))
                         ELSE NULL END)::BIGINT AS chi2_milli,
                   coalesce(
                     CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
                          THEN (1000 * (a + b + c + d) * (a * d - b * c)
                                * (a * d - b * c))
                               // ((a + b) * (c + d) * (a + c) * (b + d))
                          ELSE NULL END > 3841, FALSE) AS significant
            FROM t
        """)
def q_ab_chisq(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("converted")
    )
    cells = conv.groupBy(F.pmod(F.col("user_id"), F.lit(2)).alias("variant")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    t = cells.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n_conv")))
        .cast("long").alias("a"),
        F.sum(F.when(F.col("variant") == 0, F.col("n_users") - F.col("n_conv")))
        .cast("long").alias("b"),
        F.sum(F.when(F.col("variant") == 1, F.col("n_conv")))
        .cast("long").alias("c"),
        F.sum(F.when(F.col("variant") == 1, F.col("n_users") - F.col("n_conv")))
        .cast("long").alias("d"),
    )
    den = F.expr("(a + b) * (c + d) * (a + c) * (b + d)")
    chi = F.when(
        den > 0,
        F.expr(
            "(1000 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c))"
            " div ((a + b) * (c + d) * (a + c) * (b + d))"
        ),
    )  # a degenerate margin (no users or no variance) yields NULL, not a blowup
    return t.select(
        "a", "b", "c", "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("long").alias("n"),
        chi.cast("long").alias("chi2_milli"),
        F.coalesce(chi > 3841, F.lit(False)).alias("significant"),
    )


# TPC-H Q1 shape over the lineitem fact table: pushdown-friendly date
# filter + hash aggregate.  Every measure is fixed-pointed PER ROW before
# summation, so the aggregate is pure integer arithmetic — deterministic
# under any partitioning (summing raw doubles is ordering-dependent at
# the ulp and can flip a floor() at the boundary).
@oracle("""
            SELECT l_returnflag, l_linestatus,
                   count(*)::BIGINT AS n_rows,
                   sum(floor(l_quantity * 100.0))::BIGINT AS sum_qty_fp,
                   sum(floor(l_extendedprice * 100.0))::BIGINT AS sum_base_fp,
                   sum(floor(l_extendedprice * (1.0 - l_discount) * 100.0))::BIGINT AS sum_disc_fp
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY 1, 2
        """)
def q_lineitem_pricing(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") * F.lit(100.0))).cast("long").alias("sum_qty_fp"),
        F.sum(F.floor(F.col("l_extendedprice") * F.lit(100.0))).cast("long").alias("sum_base_fp"),
        F.sum(F.floor(disc_price * F.lit(100.0))).cast("long").alias("sum_disc_fp"),
    )


# TPC-H Q5 shape: 6-table join (lineitem-orders-customer-supplier-nation-
# region) with the local-supplier predicate, revenue per (region, nation).
# Plan story: nation/region carry explicit broadcast hints (fixed 25/5
# rows at ANY sf); customer/supplier scale with sf, so Catalyst decides
# via autoBroadcastJoinThreshold (a forced hint would build an unbounded
# broadcast table at large sf); the two fact tables shuffle-join on
# orderkey, and AQE reorders/skew-splits at runtime.
@oracle("""
            SELECT r_name, n_name,
                   sum(floor(l_extendedprice * (1.0 - l_discount) * 100.0))::BIGINT AS revenue_fp,
                   count(*)::BIGINT AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """)
def q_regional_revenue(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    s = _tbl(spark, sf_dir, "supplier")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region")
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("long").alias("revenue_fp"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# A5/A1 analogue: hash aggregate with multiple measures.
@oracle("""
            SELECT o_orderstatus,
                   count(*)::BIGINT AS n_orders,
                   floor(sum(o_totalprice) * 100.0)::BIGINT AS sum_price_fp
            FROM orders GROUP BY 1
        """)
def q_agg_orders(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.floor(F.sum("o_totalprice") * F.lit(100.0)).cast("long").alias("sum_price_fp"),
    )


# Multi-level aggregation: ROLLUP over (status, priority) — subtotal and
# grand-total rows carry NULL group keys identically in both engines.
@oracle("""
            SELECT o_orderstatus, o_orderpriority,
                   count(*)::BIGINT AS n_orders,
                   floor(sum(o_totalprice) * 100.0)::BIGINT AS sum_price_fp
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """)
def q_rollup_orders(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.floor(F.sum("o_totalprice") * F.lit(100.0)).cast("long").alias("sum_price_fp"),
    )


# Harness correctness join (SURVEY §2.7): broadcast equi-join.
@oracle("""
            SELECT c_mktsegment,
                   count(*)::BIGINT AS n_orders,
                   floor(sum(o_totalprice) * 100.0)::BIGINT AS sum_price_fp
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """)
def q_join_broadcast(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.floor(F.sum("o_totalprice") * F.lit(100.0)).cast("long").alias("sum_price_fp"),
        )
    )


# Resume anti-join pattern (SURVEY §2.7): orders whose customer has a
# negative balance are "completed"; the anti-join returns the pending set.
@oracle("""
            SELECT o_orderpriority, count(*)::BIGINT AS n_pending
            FROM orders
            WHERE NOT EXISTS (
              SELECT 1 FROM customer
              WHERE c_custkey = o_custkey AND c_acctbal < 0
            )
            GROUP BY 1
        """)
def q_anti_join(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pending"))
    )


# O5/top-k per group: window row_number (the reading-order primitive O6).
@oracle("""
            SELECT user_id, event_id,
                   floor(value * 100.0)::BIGINT AS value_fp,
                   rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY value DESC, event_id ASC) AS rnk
              FROM events
            ) WHERE rnk <= 3
        """)
def q_topk_per_group(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("value_fp"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# Time-bucketed aggregation (streaming-shaped batch op).
@oracle("""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*)::BIGINT AS n_events,
                   floor(sum(value) * 100.0)::BIGINT AS sum_value_fp
            FROM events GROUP BY 1, 2
        """)
def q_events_hourly(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.floor(F.sum("value") * F.lit(100.0)).cast("long").alias("sum_value_fp"),
        )
    )


# Sessionization: lag + cumulative sum of gap>30min flags (guide pattern).
def sessions_by_user(ev):
    """(user_id, n_sessions, n_events) of an events frame: a new session
    opens after every gap of more than 1800 s.  q_sessionize runs it over
    `events`; tools/skew_stress.py over a one-mega-user log."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; hop through
    # timestamp (identity under the pinned UTC session zone)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("sess_id", F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("sess_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@oracle("""
            WITH g AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id,
                   sum(new_sess)::BIGINT AS n_sessions,
                   count(*)::BIGINT AS n_events
            FROM g GROUP BY user_id
        """)
def q_sessionize(spark, sf_dir):
    return sessions_by_user(_tbl(spark, sf_dir, "events"))


# Conversion funnel view -> click -> purchase with a 1-hour step
# window: per user, the first view, the first click within an hour
# AFTER that view, the first purchase within an hour after that click.
# Plan shape: ONE scan of events and ONE hash exchange on user_id —
# the three sequencing stages are cascaded unbounded window minima over
# the same partitioning (each stage's predicate references the previous
# stage's window result), then the per-user aggregate reuses the window
# partitioning with no further shuffle (pinned: the executed plan has
# exactly 1 Exchange; the staged-join alternative measured 10).  At
# 100 TB that is one pass over the event log instead of three
# type-pruned scans plus three join shuffles.  Microsecond integer
# arithmetic end-to-end — no float time math to diverge across engines.
def funnel_by_user(ev):
    """(user_id, stage, t_view_us) of an events frame: the funnel stage
    each viewing user reached.  q_funnel runs it over `events`;
    tools/skew_stress.py over a one-mega-user log."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hour = 3_600_000_000
    w = Window.partitionBy("user_id")
    x = ev.select("user_id", "event_type", us.alias("t"))
    x = x.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w),
    )
    x = x.withColumn(
        "t_click",
        F.min(F.when(
            (F.col("event_type") == "click")
            & (F.col("t") > F.col("t_view"))
            & (F.col("t") <= F.col("t_view") + hour),
            F.col("t"),
        )).over(w),
    )
    x = x.withColumn(
        "t_purchase",
        F.min(F.when(
            (F.col("event_type") == "purchase")
            & (F.col("t") > F.col("t_click"))
            & (F.col("t") <= F.col("t_click") + hour),
            F.col("t"),
        )).over(w),
    )
    return (
        x.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).cast("long").alias("stage"),
            F.min("t_view").alias("t_view_us"),
        )
    )


@oracle("""
            WITH v AS (
              SELECT user_id, min(epoch_us(ts)) AS t_view
              FROM events WHERE event_type = 'view' GROUP BY 1
            ),
            c AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click'
                AND epoch_us(e.ts) > v.t_view
                AND epoch_us(e.ts) <= v.t_view + 3600000000
              GROUP BY 1
            ),
            p AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase'
                AND epoch_us(e.ts) > c.t_click
                AND epoch_us(e.ts) <= c.t_click + 3600000000
              GROUP BY 1
            )
            SELECT v.user_id,
                   (1 + (c.t_click IS NOT NULL)::INT
                      + (p.t_purchase IS NOT NULL)::INT)::BIGINT AS stage,
                   v.t_view AS t_view_us
            FROM v LEFT JOIN c ON v.user_id = c.user_id
                   LEFT JOIN p ON v.user_id = p.user_id
        """)
def q_funnel(spark, sf_dir):
    return funnel_by_user(_tbl(spark, sf_dir, "events"))


# Snapshot delta (CDC shape): classify every doc as added / deleted /
# changed / unchanged between two dataset snapshots via one full outer
# join on the key + content-hash comparison.  Snapshot B is derived
# deterministically from A (doc_id % 7 == 0 deleted, % 5 == 0 edited,
# % 11 == 0 re-keyed as a new doc) so both engines build identical
# inputs.  At 100 TB this is the incremental-refresh primitive: one
# co-partitioned join on the snapshot key, no driver state.
@oracle("""
            WITH a AS (
              SELECT doc_id, md5(text) AS h_a FROM documents
            ),
            b AS (
              SELECT doc_id,
                     md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                              ELSE text END) AS h_b
              FROM documents WHERE doc_id % 7 != 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_b
              FROM documents WHERE doc_id % 11 = 0
            )
            SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                   CASE WHEN a.h_a IS NULL THEN 'added'
                        WHEN b.h_b IS NULL THEN 'deleted'
                        WHEN a.h_a != b.h_b THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        """)
def q_snapshot_delta(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    a = d.select("doc_id", F.md5("text").alias("h_a"))
    # snapshot B derives in ONE scan: each doc conditionally emits its
    # surviving/edited row and its re-keyed "new doc" row via a single
    # explode (the union-of-two-filters formulation scanned the table
    # twice — at 100 TB that is a full extra corpus read)
    edited_text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    b_rows = F.array(
        F.when(
            F.col("doc_id") % 7 != 0,
            F.struct(F.col("doc_id").alias("doc_id"),
                     edited_text.alias("text")),
        ),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.struct((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     F.col("text").alias("text")),
        ),
    )
    b = (
        d.select(F.explode(b_rows).alias("r"))
        .filter(F.col("r").isNotNull())
        .select(F.col("r.doc_id").alias("doc_id"),
                F.md5("r.text").alias("h_b"))
    )
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("deleted"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", status.alias("status"))


# Hypertable-style hierarchical time rollup: (day, type) -> (day) -> ()
# in one pass (continuous-aggregate shape; NULL grouping keys mark the
# coarser levels identically in both engines).
@oracle("""
            SELECT date_trunc('day', ts) AS day, event_type,
                   count(*)::BIGINT AS n_events,
                   floor(sum(value) * 100.0)::BIGINT AS sum_value_fp
            FROM events GROUP BY ROLLUP (day, event_type)
        """)
def q_events_rollup(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return ev.rollup(day, F.col("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.floor(F.sum("value") * F.lit(100.0)).cast("long").alias("sum_value_fp"),
    )


# Semi-structured payload inspection: JSON field extraction (the tool
# payloads of the transcripts data model; SURVEY §2.9 from_json row).
@oracle("""
            SELECT event_type,
                   sum((props->>'k')::BIGINT)::BIGINT AS sum_k,
                   max((props->>'k')::BIGINT) AS max_k,
                   count(CASE WHEN (props->>'k')::BIGINT > 50 THEN 1 END)::BIGINT AS n_k_gt50
            FROM events GROUP BY event_type
        """)
def q_json_extract(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, 1)).cast("long").alias("n_k_gt50"),
    )


# Exact median per group (quantile operator class), integer arithmetic
# end-to-end: percentile()/quantile_cont interpolate in floats and can
# diverge at the ulp across engines, so the median is constructed
# manually — rank the fixed-point values, take the middle one (odd n) or
# floor-average the middle two (even n).  One shuffle (the window),
# deterministic tie order.
@oracle("""
            WITH d AS (
              SELECT event_type, event_id,
                     floor(value * 100.0)::BIGINT AS vfp
              FROM events
            ),
            ranked AS (
              SELECT event_type, vfp,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY vfp, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM d
            )
            SELECT event_type,
                   (sum(vfp) // count(*))::BIGINT AS median_fp,
                   max(n)::BIGINT AS n_events
            FROM ranked
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY event_type
        """)
def q_median_value(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    vfp = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    d = ev.select("event_type", "event_id", vfp.alias("vfp"))
    w = Window.partitionBy("event_type").orderBy("vfp", "event_id")
    ranked = d.select(
        "event_type",
        "vfp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("event_type").agg(
        F.expr("sum(vfp) div count(*)").alias("median_fp"),
        F.max("n").alias("n_events"),
    )


# Pivot-shaped conditional aggregation: per-day event counts spread into
# one column per type (FILTER/CASE form — identical in both engines,
# unlike the PIVOT keyword whose output schemas differ).
@oracle("""
            SELECT date_trunc('day', ts) AS day,
                   count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
                   count(*) FILTER (event_type = 'view')::BIGINT AS n_view,
                   count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
                   count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
                   count(*) FILTER (event_type = 'error')::BIGINT AS n_error
            FROM events GROUP BY 1
        """)
def q_pivot_events(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1)).cast("long")
    return ev.groupBy(day).agg(
        cnt("click").alias("n_click"),
        cnt("view").alias("n_view"),
        cnt("purchase").alias("n_purchase"),
        cnt("signup").alias("n_signup"),
        cnt("error").alias("n_error"),
    )


# CUBE aggregation: all 4 grouping-set marginals of (event_type, weekday)
# in one pass (completes the multi-level-aggregation family beside the
# two ROLLUPs).  Spark plans this as one Expand + hash aggregate — no
# driver work, marginals computed map-side.
@oracle("""
            SELECT event_type, weekday,
                   count(*)::BIGINT AS n_events,
                   floor(sum(value) * 100.0)::BIGINT AS sum_value_fp
            FROM (
              SELECT event_type, value,
                     (dayofweek(ts) + 1)::BIGINT AS weekday
              FROM events
            ) GROUP BY CUBE (event_type, weekday)
        """)
def q_cube_events(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    wd = F.dayofweek(F.col("ts")).cast("long").alias("weekday")
    return ev.cube("event_type", wd).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.floor(F.sum("value") * F.lit(100.0)).cast("long").alias("sum_value_fp"),
    )


# Explicit GROUPING SETS: exactly the (event_type) and (weekday)
# marginals, no finer/coarser levels — the native Spark 4 DataFrame
# groupingSets API plans ONE Expand with exactly two projections (vs
# CUBE's four), completing the multi-level-aggregation family beside
# ROLLUP and CUBE.
@oracle("""
            SELECT event_type, weekday,
                   count(*)::BIGINT AS n_events,
                   floor(sum(value) * 100.0)::BIGINT AS sum_value_fp
            FROM (
              SELECT event_type, value,
                     (dayofweek(ts) + 1)::BIGINT AS weekday
              FROM events
            ) GROUP BY GROUPING SETS ((event_type), (weekday))
        """)
def q_grouping_sets(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    wd = F.dayofweek(F.col("ts")).cast("long").alias("weekday")
    return ev.select("event_type", wd, "value").groupingSets(
        [["event_type"], ["weekday"]], "event_type", F.col("weekday")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.floor(F.sum("value") * F.lit(100.0)).cast("long").alias("sum_value_fp"),
    )


# Grouped distinct aggregation (standard pipeline op the reference lacks;
# exact COUNT(DISTINCT), so both engines hash-match — the approximate
# HLL variant exists as approx_count_distinct but cannot be
# oracle-compared across engines).  At scale Spark plans this as a
# two-phase expand + partial aggregate; no driver-side work.
@oracle("""
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS n_users,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY 1
        """)
def q_distinct_counts(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# Window-frame coverage beyond row_number/lag cumsum: lead/lag deltas and
# a bounded rolling mean (rowsBetween -2..0) per user ordered by time —
# the SQL-window twin of the extractor's in-UDF moving average (G3).
@oracle("""
            SELECT user_id, event_id,
                   floor(value * 100.0)::BIGINT AS value_fp,
                   floor(lag(value, 1) OVER w * 100.0)::BIGINT AS prev_fp,
                   floor(lead(value, 1) OVER w * 100.0)::BIGINT AS next_fp,
                   floor(avg(floor(value * 100.0))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT AS roll3_fp
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """)
def q_window_frames(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    value_fp = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    prev_fp = F.floor(F.lag("value", 1).over(w) * F.lit(100.0)).cast("long")
    nxt_fp = F.floor(F.lead("value", 1).over(w) * F.lit(100.0)).cast("long")
    # fixed-point BEFORE averaging: floor(avg) over already-floored
    # values is engine-stable (pure int arithmetic over 3 values)
    roll_fp = F.floor(
        F.avg(F.floor(F.col("value") * F.lit(100.0))).over(wf)
    ).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        value_fp.alias("value_fp"),
        prev_fp.alias("prev_fp"),
        nxt_fp.alias("next_fp"),
        roll_fp.alias("roll3_fp"),
    )


# As-of join — an operator Spark lacks natively, built Spark-first as the
# canonical union + last(ignorenulls) window (one shuffle on the key, no
# range cross-product): for each purchase event, the most recent view
# event of the same user at or before it.  The DuckDB oracle uses the
# native ASOF JOIN; (user_id, ts) pairs are collision-free in the data so
# both formulations are deterministic.
@oracle("""
            WITH a AS (
              SELECT user_id, ts, event_id AS a_event_id
              FROM events WHERE event_type = 'purchase'
            ),
            b AS (
              SELECT user_id, ts, event_id AS b_event_id
              FROM events WHERE event_type = 'view'
            )
            SELECT a.a_event_id, b.b_event_id,
                   (epoch_us(a.ts) - epoch_us(b.ts))::BIGINT AS gap_us
            FROM a ASOF JOIN b
              ON a.user_id = b.user_id AND a.ts >= b.ts
        """)
def q_asof_join(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("a_event_id"),
        F.lit(None).cast("struct<ts:timestamp_ntz,eid:bigint>").alias("b_pack"),
        F.lit(1).alias("is_probe"),
    )
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("a_event_id"),
        F.struct(
            F.col("ts").alias("ts"), F.col("event_id").alias("eid")
        ).alias("b_pack"),
        F.lit(0).alias("is_probe"),
    )
    # build rows sort BEFORE probe rows at equal ts => b.ts <= a.ts
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = probe.unionByName(build).withColumn(
        "m", F.last("b_pack", ignorenulls=True).over(w)
    )
    return (
        u.filter((F.col("is_probe") == 1) & F.col("m").isNotNull())
        .select(
            "a_event_id",
            F.col("m.eid").alias("b_event_id"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("m.ts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )


# Range join — banded-bucket implementation (the Spark-first shape that
# avoids the naive cross product Catalyst would otherwise plan for a pure
# inequality join): views within the hour before each purchase.  Probe
# rows fan out to their own and the previous 1h time bucket, the join is
# a plain equi-join on (user, bucket), and the exact range predicate
# filters after.  An interval of width W spans at most 2 W-buckets, so
# coverage is exact.
@oracle("""
            SELECT a.event_id AS a_event_id, count(*)::BIGINT AS n_views_1h
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'purchase' AND b.event_type = 'view'
             AND epoch_us(b.ts) <= epoch_us(a.ts)
             AND epoch_us(b.ts) > epoch_us(a.ts) - 3600000000
            GROUP BY 1
        """)
def q_range_join(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("a_event_id"), us.alias("a_us"))
        .withColumn("bkt", F.explode(F.array(
            F.expr(f"a_us div {hour_us}"), F.expr(f"a_us div {hour_us} - 1")
        )))
    )
    b = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("b_us"),
        F.expr(f"unix_micros(cast(ts as timestamp)) div {hour_us}").alias("bkt"),
    )
    return (
        a.join(b, ["user_id", "bkt"])
        .filter((F.col("b_us") <= F.col("a_us")) & (F.col("b_us") > F.col("a_us") - hour_us))
        .groupBy("a_event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_views_1h"))
    )
