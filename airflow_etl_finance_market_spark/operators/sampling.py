"""Deterministic sampling / dataset-split operators (training-data tier).

A training pipeline needs reproducible train/valid/test assignment that is
(a) stable across runs and engines, (b) a pure map-side expression — no
shuffle, no RNG state, no driver coordination — and (c) re-derivable for
any single row without scanning the dataset. The standard trick is a
salted-hash bucket: ``md5(seed || key) mod 100`` assigns every row to one
of 100 buckets, and split boundaries carve the bucket space.

md5 (rather than ``xxhash64``/``hash``) is chosen deliberately: its output
is identical in every engine (Spark, DuckDB, Postgres, Python), so the
assignment itself is oracle-checkable and survives an engine migration —
exactly the property a 100 TB corpus split must have, since re-splitting
leaks eval data into train. Spark-internal hashes are seeded/implementation
-specific and would not cross-check.

Scale: embarrassingly parallel, whole-stage-codegen expression on every
row; the optional per-split summary is one partial-aggregated groupBy on a
3-value key.

Reference has no sampling surface (SURVEY.md §2.7) — this is extension
tier per the §7.5 north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column | str, *, seed: str = "seed42", buckets: int = 100) -> Column:
    """Engine-portable deterministic bucket in [0, buckets): md5 of the
    salted key's first 8 hex chars (32 bits) as a bigint, mod buckets.

    32 bits of hash keeps the modulo bias at buckets/2^32 (~2e-8 for 100
    buckets) — statistically flat for any realistic split. (4 hex chars was
    measurably biased: 65,536 mod 100 leaves buckets 0-35 ~0.15% heavy.)
    """
    key_c = F.col(key) if isinstance(key, str) else key
    salted = F.concat(F.lit(f"{seed}:"), key_c.cast("string"))
    return (
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint") % buckets
    )


def assign_split(
    df: DataFrame,
    key: str,
    *,
    seed: str = "seed42",
    train_pct: int = 80,
    valid_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Add a train/valid/test label keyed on a stable id column.

    Buckets [0, train) → train, [train, train+valid) → valid, rest → test.
    Pure projection: no shuffle, each row's label is a function of its key
    alone, so late-arriving data lands in the same split forever.
    """
    b = hash_bucket(key, seed=seed)
    return df.withColumn(
        split_col,
        F.when(b < train_pct, "train")
        .when(b < train_pct + valid_pct, "valid")
        .otherwise("test"),
    )


def split_summary(
    assigned: DataFrame, *, split_col: str = "split", weight_col: str | None = None
) -> DataFrame:
    """Per-split row counts (and optional weight sums) — the sanity check a
    split always ships with."""
    aggs = [F.count("*").alias("n_rows")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("total_weight"))
    return assigned.groupBy(split_col).agg(*aggs)


def stratified_sample(
    df: DataFrame,
    *,
    key: str,
    strata_col: str,
    rates: dict[str, float],
    seed: str = "seed42",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its salted-md5
    bucket (out of 10,000) falls below ``rate * 10,000`` for its stratum —
    the engine-portable twin of ``DataFrame.sampleBy``.

    ``sampleBy`` draws from a per-partition RNG: resampling after a
    repartition, an engine migration, or on a different executor count
    yields a DIFFERENT subset. Here membership is a pure function of
    (seed, key), so the sample is reproducible row-by-row anywhere md5
    exists, late-arriving rows join the same sample they always would
    have, and rates are exact to 1/10,000. Map-side projection + filter —
    no shuffle, no RNG state (same posture as assign_split).
    """
    thresholds = F.create_map(
        *[
            F.lit(x)
            for kv in rates.items()
            for x in (kv[0], int(round(kv[1] * 10_000)))
        ]
    )
    b = hash_bucket(key, seed=seed, buckets=10_000)
    thr = F.coalesce(
        thresholds.getItem(F.col(strata_col)),
        F.lit(int(round(default_rate * 10_000))),
    )
    return df.filter(b < thr)


def per_group_quota(
    df: DataFrame,
    *,
    group: str,
    id_col: str,
    quota: int,
    seed: str = "seed42",
    rank_col: str = "sample_rank",
    pre_salt: int | None = None,
) -> DataFrame:
    """Deterministic per-group quota cap: keep at most ``quota`` rows per
    ``group``, chosen by salted-md5 order of ``id_col`` — the per-domain
    document cap of web-corpus curation (C4/RefinedWeb-style "no domain
    dominates the corpus"), as one declarative plan.

    Unlike :func:`stratified_sample` (Bernoulli, rate-exact in expectation)
    this is an EXACT cap: a 10M-page domain and a 200-page domain both
    contribute ≤ quota, and membership is a pure function of (seed, id),
    so re-runs, engine migrations, and late-arriving rows agree on the
    kept set as long as the md5 order of present rows is unchanged.

    Scale: one shuffle on ``group`` + per-group sort. Domain skew is the
    known hazard — a single domain with 10^8 pages makes one task sort
    10^8 rows to keep ``quota``. ``pre_salt=S`` enables the two-level
    salted form for that shape: round 1 ranks within (group, hash mod S)
    — S-way parallel, each subgroup ~1/S of the domain — and keeps the
    LOCAL top-``quota``; round 2 runs the exact window over the ≤ S·quota
    survivors per group. The result is IDENTICAL to the exact form (every
    globally-kept row is also in its salt bucket's local top-``quota``,
    since a bucket holds a subset of its group's competitors), so the salt
    function never affects output — only parallelism.
    """
    h = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    )
    if pre_salt is not None and pre_salt > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(pre_salt))
        wl = Window.partitionBy(F.col(group), salt).orderBy(
            h.asc(), F.col(id_col).asc()
        )
        df = (
            df.withColumn("_lr", F.row_number().over(wl))
            .filter(F.col("_lr") <= quota)
            .drop("_lr")
        )
    w = Window.partitionBy(group).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= quota)
    )


def rebalance_sample(
    df: DataFrame,
    *,
    strata_col: str,
    id_col: str,
    seed: str = "seed42",
    scale: int = 10_000,
) -> DataFrame:
    """Rebalance a corpus to a UNIFORM stratum mix by deterministic
    downsampling: every stratum keeps ~min_count rows — the data-mixing
    step of a pretraining pipeline (cap the dominant language/source so
    the mixture matches the target weights) with the rates derived from
    the CORPUS ITSELF rather than passed in like
    :func:`stratified_sample`.

    Exactness contract: the keep threshold per stratum is the INTEGER
    ``max(1, (min_count * scale) DIV count)`` against the salted-md5
    bucket in [0, scale) — no float rates, so any engine derives the
    identical kept set from the same rows (float division would round
    differently at the ulp and flip boundary rows). Expected kept size
    per stratum is min_count to within 1/scale relative error, PROVIDED
    the stratum ratio max_count/min_count stays below ``scale``. The
    floor-at-1 matters under heavier skew: integer DIV would truncate the
    threshold to 0 for any stratum more than ``scale``× larger than the
    smallest — silently dropping that stratum from the mix entirely,
    exactly the dominant-language case the operator exists for. With the
    floor such a stratum instead keeps ~count/scale rows (an OVER-sample
    of up to count/(scale·min_count)× its target); raise ``scale``
    toward max_count/min_count when that bound matters.

    Scale: one count aggregate over the stratum column (tiny result: one
    row per stratum), broadcast back as the threshold side of a map-side
    join + filter — the corpus itself never shuffles.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    min_cnt = counts.agg(F.min("_cnt").alias("_min"))
    thresholds = counts.crossJoin(F.broadcast(min_cnt)).select(
        F.col(strata_col),
        F.expr(f"GREATEST(1, (_min * {scale}) DIV _cnt)").alias("_thr"),
    )
    b = hash_bucket(F.col(id_col).cast("string"), seed=seed, buckets=scale)
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(b < F.col("_thr"))
        .drop("_thr")
    )


def weighted_sample(
    df: DataFrame,
    *,
    key: str,
    weight_col: str,
    group: str,
    k: int,
    seed: str = "seed42",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Efraimidis–Spirakis (A-ES) weighted sampling WITHOUT replacement:
    keep the ``k`` rows per ``group`` with the smallest exponential race
    key ``-ln(u) / w`` — the quality-weighted corpus-selection step of a
    pretraining pipeline (sample documents proportionally to a quality or
    length weight, reproducibly), as a pure declarative plan.

    Each row draws its uniform u = (bucket + 0.5) / 2³² from the salted
    md5 of its ``key`` (the same engine-portable trick as
    :func:`hash_bucket`, at full 32-bit resolution), so membership is a
    pure function of (seed, key, weight): no RNG state, identical across
    engines and re-runs, and P(row drawn first in its group) = wᵢ/Σw —
    the textbook A-ES guarantee. Rows with NULL key, NULL weight, or
    weight ≤ 0 are EXCLUDED up front: they have no defined race key, and
    leaving them in would diverge cross-engine (Spark sorts NULL race
    keys FIRST — silently winning rank 1 — where DuckDB sorts them
    last).

    Float caveat (stated, not hand-waved): ln() may differ in the last
    ulp across libm implementations, so two rows whose race keys agree
    to ~1e-16 relative could rank differently cross-engine. Keys are
    continuous draws — ulp-scale collisions have negligible probability
    and none occur in the parity fixtures; the deterministic
    (key ASC) tiebreak guards exact duplicates (same u AND same w).

    Scale: map-side key expression + ONE shuffle on ``group`` with a
    per-group rank — the same shape as :func:`per_group_quota` (whose
    ``pre_salt`` two-level trick applies unchanged if a group is hot,
    since a bucket's local top-k superset property holds for any
    per-row ordering key).
    """
    # hash_bucket at 2^32 buckets IS the raw 32-bit salted hash (the
    # modulo is the identity there) — reuse it so a portability fix to
    # the module's one hash kernel reaches every sampler
    b = hash_bucket(
        F.col(key).cast("string"), seed=seed, buckets=4294967296
    )
    u = (b + F.lit(0.5)) / F.lit(4294967296.0)
    race = -F.log(u) / F.col(weight_col)
    w = Window.partitionBy(group).orderBy(race.asc(), F.col(key).asc())
    return (
        df.filter(
            F.col(key).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
