"""Join operators.

Reference parity:
  J1 account enrichment  — row-level impl src/models/transaction.py:97-110;
     the streaming join is an explicit TODO at
     src/spark/transaction_processor.py:267 ("In a real application, you'd
     join with account and customer data here").
  J2 customer enrichment and J3 reference_id self-link are served by the
     registry queries ``enrich_join`` / ``self_join``
     (queries/reference_parity.py).

Scale notes: the accounts dimension is bounded and small relative to the
fact stream, so J1 is an explicit ``broadcast()`` hash join — no shuffle of
the fact side, and the same plan works stream-static.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_accounts(txns: DataFrame, accounts: DataFrame) -> DataFrame:
    """J1: left broadcast join on account_id; fills customer_id from the
    account record when the transaction lacks it and attaches
    account_type/account_status metadata (reference transaction.py:101-108
    semantics, vectorized)."""
    acc = F.broadcast(
        accounts.select(
            "account_id",
            F.col("customer_id").alias("_acc_customer_id"),
            "account_type",
            "account_status",
        )
    )
    out = txns.join(acc, "account_id", "left")
    return out.withColumn(
        "customer_id", F.coalesce(F.col("customer_id"), F.col("_acc_customer_id"))
    ).drop("_acc_customer_id")


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "30 minutes",
    within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by a time range: right rows match
    left rows with the same ``key`` whose ``right_ts`` falls in
    [left_ts, left_ts + within].

    Both sides carry watermarks and the join condition bounds event time
    in BOTH directions, so Spark can expire state: each side's buffer
    holds at most watermark + within of data per key — the requirement
    for an unbounded-stream join to run forever at 100 TB/day rates.
    Left outer joins emit unmatched left rows once the watermark passes
    left_ts + within (Spark's null-padding rule).

    ``left_ts``/``right_ts`` must be distinct column names (rename before
    calling); output carries all columns of both sides."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rkey = f"_r_{key}"
    rw = rw.withColumnRenamed(key, rkey)
    cond = (
        (F.col(key) == F.col(rkey))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how).drop(rkey)


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the fact side, replicate the other.

    AQE's skew-join split (on in session.py) handles most skew at runtime;
    this explicit form is for the cases AQE can't fix — a single hot key
    whose rows exceed one executor even after splitting, or engines/
    versions without AQE.  Each fact row gets a random salt in [0, salt);
    the smaller side is replicated `salt` times (explode of a literal
    range — no Python), and the join key becomes (key, salt), spreading a
    hot key over `salt` reducers.

    Use when: |dim| * salt still fits comfortably in the shuffle (the
    replication is the price).  The fact side is never replicated.
    """
    salted_facts = facts.withColumn(
        "_salt", (F.rand(seed=0) * salt).cast("int")
    )
    replicated = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_facts.join(replicated, [key, "_salt"], how).drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the latest right row with the
    same key and right_ts <= left_ts (left-join semantics: no match →
    nulls).  Not in the reference; the standard time-series enrichment
    operator (DuckDB ASOF JOIN, pandas merge_asof, kdb aj).

    Spark-first shape — union + running last_value instead of a per-key
    UDF or a range self-join:

      1. Tag both sides and union on (key, ts): one dataset, right rows
         sorting before left rows at equal timestamps (<= semantics).
      2. One window pass per key ordered by (ts, tag): ``last(col,
         ignorenulls=True)`` carries the most recent right values forward.
      3. Keep left rows.

    Cost: a single shuffle on `key` + one sort per partition — the same
    lower bound a dedicated as-of merge would pay, with no quadratic
    candidate pairs at any point, so it scales to arbitrarily long
    histories.  Skewed keys fall to AQE; `tolerance` (an INTERVAL string)
    bounds how stale a match may be, which is also what keeps state
    bounded in a streaming adaptation.
    """
    from pyspark.sql import Window

    rcols = right_cols or [c for c in right.columns if c != key and c != right_ts]

    # Injected temp columns carry a suffix no user column contains, and the
    # final projection names exactly the original left columns — so a user
    # column called `_x` or `asof_note` survives untouched (output columns
    # `asof_ts`/`asof_<rcol>` remain the documented naming contract).
    sfx, n = "__aj0", 0
    all_cols = list(left.columns) + list(right.columns)
    while any(sfx in c for c in all_cols):
        n += 1
        sfx = f"__aj{n}"
    ts_c, tag_c, rts_c = f"ts{sfx}", f"tag{sfx}", f"rts{sfx}"
    rval = {c: f"rv{i}{sfx}" for i, c in enumerate(rcols)}
    carried_ts, carried_val = f"cts{sfx}", {c: f"cv{i}{sfx}" for i, c in enumerate(rcols)}
    left_cols = list(left.columns)

    l = left.withColumn(ts_c, F.col(left_ts)).withColumn(tag_c, F.lit(1))
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(ts_c),
        F.lit(0).alias(tag_c),
        F.col(right_ts).alias(rts_c),
        *[F.col(c).alias(rval[c]) for c in rcols],
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(ts_c, tag_c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last(rts_c, ignorenulls=True).over(w).alias(carried_ts),
        *[
            F.last(rval[c], ignorenulls=True).over(w).alias(carried_val[c])
            for c in rcols
        ],
    )
    out = carried.filter(F.col(tag_c) == 1)
    if tolerance:
        stale = F.col(carried_ts) < F.col(ts_c) - F.expr(f"INTERVAL {tolerance}")
        return out.select(
            *left_cols,
            F.when(stale, None).otherwise(F.col(carried_ts)).alias("asof_ts"),
            *[
                F.when(stale, None).otherwise(F.col(carried_val[c])).alias(f"asof_{c}")
                for c in rcols
            ],
        )
    return out.select(
        *left_cols,
        F.col(carried_ts).alias("asof_ts"),
        *[F.col(carried_val[c]).alias(f"asof_{c}") for c in rcols],
    )


def interval_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """Point-in-time join of a fact stream against an SCD Type-2
    dimension: each fact row picks the dimension version whose validity
    interval ``[valid_from, valid_to)`` contains the fact timestamp
    (``valid_to`` NULL = open / current version).

    This is the lookup side of the SCD2 pattern (operators built by
    queries/analytics.q_scd2_user_state build the intervals): as-of
    enrichment expressed as an interval predicate instead of the
    union+running-last trick in :func:`asof_join` — the natural shape
    when the dimension is already materialized as intervals.

    Scale: the key equality makes this a plain equi-join (sort-merge or
    broadcast, Catalyst's choice) with the interval predicate evaluated
    as a post-join filter on each key's matches.  Per key the dimension
    holds one row per VERSION (bounded history), not per fact, so the
    fan-out before filtering is |versions(key)| — the interval predicate
    never degenerates to a cross product the way a pure range join
    (no key) would.  SCD2 guarantees non-overlapping intervals per key,
    so each fact matches at most one version.
    """
    d = dim.select(
        F.col(key).alias("_dk"),
        F.col(valid_from).alias("_vf"),
        F.col(valid_to).alias("_vt"),
        *[
            F.col(c)
            for c in dim.columns
            if c not in (key, valid_from, valid_to)
        ],
    )
    cond = (
        (facts[fact_ts] >= d["_vf"])
        & (d["_vt"].isNull() | (facts[fact_ts] < d["_vt"]))
        & (facts[key] == d["_dk"])
    )
    return facts.join(d, cond, how).drop("_dk").withColumnsRenamed(
        {"_vf": valid_from, "_vt": valid_to}
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: tuple[str, str, str],
    right_cols: tuple[str, str, str],
    bucket_width: int,
) -> DataFrame:
    """Keyless interval×interval overlap join at scale — the spatial/
    temporal banding trick: a naive ``a.start <= b.end AND b.start <=
    a.end`` join has no equality conjunct, so Spark plans a broadcast
    nested-loop (O(|A|·|B|) compares).  Banding restores an equi-join:
    every interval explodes to the fixed-width buckets it touches, the
    join runs per bucket, and each overlapping pair is kept at exactly
    ONE bucket — ``greatest(bucketof(a.start), bucketof(b.start))`` —
    which both intervals provably cover (the later-starting interval
    covers its own start bucket; the earlier one reaches it because the
    overlap means it extends past the later start).  No post-hoc
    dedup shuffle, no double counting.

    ``left_cols``/``right_cols`` are ``(id, start, end)`` with integer
    closed bounds in the caller's unit (µs, days, …); ``bucket_width``
    is in the same unit.  Output: ``a_id a_start a_end b_id b_start
    b_end overlap_len`` (closed-interval intersection length, ≥ 0).

    Choosing the width: replication factor is ~span/width + 1 per row,
    join fan-in per bucket is the interval density at that width — pick
    width ≈ typical span so both stay O(1); a long-tail interval set
    (a few year-long spans among minutes) wants the long tail split or
    handled on a second coarser pass.
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    li, ls, le = left_cols
    ri, rs, re_ = right_cols
    # Malformed rows (start > end) denote EMPTY intervals and must match
    # nothing — but the raw predicate can still accept them (a [10,5]
    # "interval" matches any b spanning [5,10]), so drop them here.
    a = left.select(
        F.col(li).alias("a_id"),
        F.col(ls).cast("long").alias("a_start"),
        F.col(le).cast("long").alias("a_end"),
    ).filter(F.col("a_start") <= F.col("a_end"))
    b = right.select(
        F.col(ri).alias("b_id"),
        F.col(rs).cast("long").alias("b_start"),
        F.col(re_).cast("long").alias("b_end"),
    ).filter(F.col("b_start") <= F.col("b_end"))
    ax = a.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"a_start div {int(bucket_width)}"),
                F.expr(f"a_end div {int(bucket_width)}"),
            )
        ).alias("bucket"),
    )
    bx = b.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"b_start div {int(bucket_width)}"),
                F.expr(f"b_end div {int(bucket_width)}"),
            )
        ).alias("bucket"),
    )
    joined = ax.join(bx, "bucket")
    canonical = F.greatest(
        F.expr(f"a_start div {int(bucket_width)}"),
        F.expr(f"b_start div {int(bucket_width)}"),
    )
    return (
        joined.filter(
            (F.col("bucket") == canonical)
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select(
            "a_id",
            "a_start",
            "a_end",
            "b_id",
            "b_start",
            "b_end",
            (
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            ).alias("overlap_len"),
        )
    )
