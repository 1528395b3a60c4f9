"""S8: distributed synthetic transaction generator.

The reference generates random transactions one dict at a time on a single
thread (src/kafka/transaction_producer.py:66-130).  Here the same value
domains and amount distributions are expressed as Column expressions over
``spark.range(n)`` — fully distributed, no Python in the loop, and
seedable for deterministic tests.

Domain parity (producer.py:66-130):
  account   ACC000001..ACC000100      customer  CUST000001..CUST000050
  type      deposit|withdrawal|transfer|payment|refund (uniform)
  amount    per-type uniform: deposit 50-5000, withdrawal 20-1000,
            transfer 10-3000, payment 5-500, refund 5-200; round(2)
  ts        uniform in the 24h before `now`
  merchant_info only for payments; status skewed 3:1 completed:pending
  description = "{Type} transaction"
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AMOUNT_RANGES = {
    "deposit": (50.0, 5000.0),
    "withdrawal": (20.0, 1000.0),
    "transfer": (10.0, 3000.0),
    "payment": (5.0, 500.0),
    "refund": (5.0, 200.0),
}
MERCHANTS = [
    "Amazon", "Walmart", "Target", "Starbucks", "Shell", "Exxon",
    "McDonalds", "Subway", "BestBuy", "HomeDepot", "Costco", "Walgreens",
]
MERCHANT_CATEGORIES = ["retail", "food", "gas", "services", "entertainment"]


def _pick(options: list[str], r: F.Column) -> F.Column:
    """Uniform pick from a list driven by a [0,1) random column."""
    n = len(options)
    idx = F.floor(r * n).cast("int")
    expr = F.when(idx >= n, options[-1])  # guard r==1.0 edge
    for i, opt in enumerate(options):
        expr = expr.when(idx == i, opt)
    return expr


def transactions_from_ids(
    ids: DataFrame,
    seed: int = 42,
    now: str = "2024-01-31 00:00:00",
    n_accounts: int = 100,
    n_customers: int = 50,
) -> DataFrame:
    """Map a DataFrame with an ``id`` bigint column (batch ``spark.range``
    or the streaming ``rate`` source's ``value``) to full transaction rows
    with the reference generator's distributions."""
    # Materialize the random streams in their own projection FIRST:
    # rand() is non-deterministic, so conditional branches referencing a
    # shared rand expression would otherwise desynchronize per row
    # (Catalyst deliberately does not collapse projects across
    # non-deterministic expressions, so this two-step shape is safe).
    names = ["acct", "cust", "type", "amt", "ts", "status", "src", "merch", "cat", "mid"]
    df = ids.select(
        "id", *[F.rand(seed + i).alias(f"_r_{k}") for i, k in enumerate(names)]
    )
    r = {k: F.col(f"_r_{k}") for k in names}
    types = list(AMOUNT_RANGES)
    ttype = _pick(types, r["type"])

    amount = F.lit(None).cast("double")
    for t, (lo, hi) in AMOUNT_RANGES.items():
        amount = F.when(ttype == t, F.round(F.lit(lo) + r["amt"] * (hi - lo), 2)).otherwise(amount)

    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(now)) - F.floor(r["ts"] * 86400).cast("long")
    )
    status = F.when(r["status"] < 0.75, "completed").otherwise("pending")
    merchant = F.when(
        ttype == "payment",
        F.map_from_arrays(
            F.array(F.lit("name"), F.lit("category"), F.lit("merchant_id")),
            F.array(
                _pick(MERCHANTS, r["merch"]),
                _pick(MERCHANT_CATEGORIES, r["cat"]),
                F.concat(F.lit("M"), F.lpad(F.floor(r["mid"] * 99999).cast("string"), 5, "0")),
            ),
        ),
    )

    return df.select(
        F.concat(F.lit("TXN"), F.lpad(F.col("id").cast("string"), 12, "0")).alias("transaction_id"),
        F.concat(F.lit("ACC"), F.lpad((F.floor(r["acct"] * n_accounts) + 1).cast("string"), 6, "0")).alias("account_id"),
        F.concat(F.lit("CUST"), F.lpad((F.floor(r["cust"] * n_customers) + 1).cast("string"), 6, "0")).alias("customer_id"),
        ttype.alias("transaction_type"),
        amount.alias("amount"),
        F.lit("USD").alias("currency"),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        F.concat(F.initcap(ttype), F.lit(" transaction")).alias("description"),
        status.alias("status"),
        _pick(["mobile_app", "web_banking", "branch", "atm", "merchant_pos"], r["src"]).alias("source"),
        F.lit(None).cast("string").alias("reference_id"),
        merchant.alias("merchant_info"),
        F.lit(None).cast("map<string,string>").alias("location"),
        F.array().cast("array<string>").alias("tags"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
        F.lit(None).cast("string").alias("processing_timestamp"),
        F.lit(None).cast("string").alias("validation_status"),
        F.lit(None).cast("string").alias("enrichment_status"),
        F.lit(None).cast("string").alias("data_source"),
        F.lit(None).cast("string").alias("batch_id"),
        F.lit(None).cast("array<string>").alias("validation_errors"),
    )


def synthetic_transactions(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    now: str = "2024-01-31 00:00:00",
    n_accounts: int = 100,
    n_customers: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """Generate `n` transactions matching the reference generator's
    distributions.  Deterministic for a given (n, seed, now)."""
    return transactions_from_ids(
        spark.range(0, n, numPartitions=partitions),
        seed=seed,
        now=now,
        n_accounts=n_accounts,
        n_customers=n_customers,
    )


def synthetic_accounts(
    spark: SparkSession, n_accounts: int = 100, n_customers: int = 50, seed: int = 7
) -> DataFrame:
    """Accounts dimension (FIXTURES.md §2; reference declares the entity at
    validation_config.yml:47-59 / transaction.py:97-110).

    Random streams are materialized in their own projection first — the
    same non-determinism discipline as transactions_from_ids: a rand()
    referenced from multiple when-branches can advance between branch
    evaluations (observed as NULL fall-through when the dim is evaluated
    inside a streaming micro-batch plan)."""
    df = spark.range(1, n_accounts + 1).select(
        "id", F.rand(seed).alias("_r_type"), F.rand(seed + 1).alias("_r_status")
    )
    return df.select(
        F.concat(F.lit("ACC"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("account_id"),
        F.concat(F.lit("CUST"), F.lpad(((F.col("id") - 1) % n_customers + 1).cast("string"), 6, "0")).alias("customer_id"),
        _pick(["checking", "savings", "credit", "loan", "investment"], F.col("_r_type")).alias("account_type"),
        _pick(["active", "active", "active", "frozen", "closed"], F.col("_r_status")).alias("account_status"),
    )
