"""Probabilistic-sketch operators — the fixed-size summaries a 100 TB
pipeline substitutes for corpus-sized state.

Two classic sketches, each built from deterministic md5-derived hash
functions so Spark and DuckDB compute bit-identical structures (the
engine-portable bucket idiom used by hash_sample / dsir_importance):

* ``bloom_dedup_prefilter`` — a Bloom membership filter over the history
  corpus's exact-text keys, probed by the daily delta. The membership
  structure is the SET-bit relation — ≤ k·n rows inside an m = 16^5 =
  1,048,576-bit address space (`n_hex`-parameterized, ~10 bits/key
  design density) — and stays broadcastable REGARDLESS of corpus size:
  it broadcasts where the exact anti-join would shuffle the full history
  key set. False positives are part of the semantics (flagged docs go to
  the exact verify tail; clean docs skip it — the same
  cheap-filter-then-verify shape as the LSH prefilters); false negatives
  are impossible, which the pytest pins. Production note: Spark ships
  native ``bloom_filter_agg``/``might_contain`` (a compact binary
  aggregate) — this module keeps the bit set relational so the oracle
  can reproduce it bit-for-bit; the plan shape (tiny broadcast structure
  probed map-side) is identical.

* ``heavy_hitters_cms`` — a count-min sketch (Cormode & Muthukrishnan
  2005): d=4 hash rows × w=1024 counters summarize the full token
  frequency distribution in ≤ 4096 rows; a token's estimate is the MIN
  over its d counters, never below the true count (the CMS guarantee,
  pytest-pinned). The demo query joins estimates back to true counts so
  the oracle value-checks both; a production pipeline keeps only the
  sketch and never materializes the true counts.

* ``distinct_count_hll`` — a HyperLogLog register table (Flajolet et al.
  2007, the algorithm behind Spark's ``approx_count_distinct``): m=256
  buckets per group, register = max leading-zero rank of a 32-bit
  md5-derived value. Per-group distinct state is ≤ m rows regardless of
  corpus size (vs count(DISTINCT)'s per-key shuffle), map-side
  combinable, and mergeable across partitions/days by bucket-wise max —
  the same additive-generation shape as the maintained censuses. The
  estimator keeps doubles engine-portable: 2^-rank sums are exact in
  IEEE double (term spread 33 bits < 53), so Spark and DuckDB agree
  bit-for-bit before the final round(). The demo reports the exact
  distinct count alongside so the oracle value-checks the estimate.

* ``quantile_hist`` — a mergeable fixed-width histogram for quantile
  estimation (the bounded-range special case of HDR/DDSketch-style
  bucketed quantiles, and the mergeable substitute for Spark's
  ``percentile_approx`` t-digest): bucket = floor(value · 8), count per
  (group, bucket). Width-1/8 buckets make every arithmetic step exactly
  IEEE-defined (one correctly-rounded multiply + floor; estimates are
  midpoint/8, an exact binary fraction), so Spark and DuckDB agree
  bit-for-bit with no float-parity tricks — unlike log-bucketed
  DDSketch, whose ln() boundaries are libm-dependent. Counts are
  additive across disjoint deltas, giving the maintained daily form the
  same committed-generation contract as the censuses. Absolute error
  ≤ 1/16 by construction; for unbounded metrics production would switch
  the bucket fn to log-gamma buckets and keep everything else.

The reference has no sketch machinery (TypeScript serving layer); these
derive from the published papers + the Spark built-in analogues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark.maintained import (
    Spec,
    maintained,
    max_on,
    state_dir_for_input,
    sum_on,
    two_day_split,
)
from janet_spark.queries_relational import t

_BLOOM_HEX = 5  # hex chars per position: m = 16^5 = 1,048,576 bits —
# at k=3 and ~10 bits/key that supports ~10^5 history keys; a fixed
# 4096-bit filter saturates ~6x over capacity at sf0.1 already. The
# bits RELATION stays small either way: it stores only SET positions
# (≤ k·n rows), never m rows, so a bigger m costs nothing but hash width.
_BLOOM_BITS = 16**_BLOOM_HEX
_BLOOM_K = 3  # hash functions per key
_CMS_D = 4  # count-min hash rows
_CMS_W = 1024  # counters per row
_CMS_TOP = 20


def _hash_pos(seed_col, key_col, n_hex: int = 3) -> F.Column:
    """0..16^n_hex-1 from the first n_hex hex chars of md5(seed ':' key)
    — the seed turns ONE md5 into a family of independent hash
    functions."""
    return F.conv(
        F.substring(
            F.md5(F.concat(seed_col.cast("string"), F.lit(":"), key_col)),
            1,
            n_hex,
        ),
        16,
        10,
    ).cast("int")


def _sql_hash_pos(seed_sql: str, key_sql: str, n_hex: int = 3) -> str:
    """The identical n_hex-char position in DuckDB SQL (nibble-by-nibble
    strpos decode, the ORACLE_HASH_SAMPLE idiom)."""
    m = f"md5(cast({seed_sql} AS varchar) || ':' || {key_sql})"
    nib = "strpos('0123456789abcdef', substr({m}, {i}, 1)) - 1"
    return (
        "("
        + " + ".join(
            f"({nib.format(m=m, i=i + 1)}) * {16 ** (n_hex - 1 - i)}"
            for i in range(n_hex)
        )
        + ")"
    )


def bloom_dedup_prefilter_frame(
    history: DataFrame, delta: DataFrame, n_hex: int = _BLOOM_HEX
) -> DataFrame:
    """(doc_id, maybe_dup) for every delta doc: maybe_dup iff ALL K bloom
    positions of md5(text) are set by the history. Scale shape: the bit
    set is one distinct-agg over history SET positions (≤ k·n rows,
    broadcast — m itself is only an address space); the probe is a
    per-position broadcast left join + per-doc min — the delta never
    joins the history itself. `n_hex` sizes m = 16^n_hex; keep
    ~10 bits/key of expected history cardinality."""
    seeds = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")
    # coalesce so a NULL text hashes like the sibling text operators do:
    # md5(NULL) would NULL-propagate through every position, the probe's
    # join would never match, and a NULL-text duplicate pair would come
    # back maybe_dup=false — the false negative the contract forbids
    key = F.md5(F.coalesce(F.col("text"), F.lit("")))
    bits = (
        history.select(key.alias("key"))
        .select("key", seeds)
        .select(_hash_pos(F.col("j"), F.col("key"), n_hex).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = (
        delta.select("doc_id", key.alias("key"))
        .select("doc_id", "key", seeds)
        .select("doc_id", _hash_pos(F.col("j"), F.col("key"), n_hex).alias("pos"))
    )
    return (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg((F.min(F.coalesce(F.col("hit"), F.lit(0))) == 1).alias("maybe_dup"))
        .select("doc_id", "maybe_dup")
    )


def q_bloom_dedup_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_dedup_prefilter_frame(history, delta).orderBy("doc_id")


_BLOOM_POS = _sql_hash_pos("j", "key", _BLOOM_HEX)

_BLOOM_SEEDS = ", ".join(str(j) for j in range(_BLOOM_K))

ORACLE_BLOOM_DEDUP_PREFILTER = f"""
WITH hist AS (
  SELECT md5(coalesce(text, '')) AS key FROM documents WHERE doc_id % 2 = 0
), bits AS (
  SELECT DISTINCT {_BLOOM_POS} AS pos
  FROM hist, unnest([{_BLOOM_SEEDS}]) AS u(j)
), probe AS (
  SELECT doc_id, {_BLOOM_POS} AS pos
  FROM (SELECT doc_id, md5(coalesce(text, '')) AS key
        FROM documents WHERE doc_id % 2 = 1),
       unnest([{_BLOOM_SEEDS}]) AS u(j)
)
SELECT probe.doc_id,
       min(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END) = 1 AS maybe_dup
FROM probe LEFT JOIN bits ON probe.pos = bits.pos
GROUP BY probe.doc_id ORDER BY doc_id
"""


def heavy_hitters_cms_frame(docs: DataFrame) -> DataFrame:
    """Top-N tokens by count-min ESTIMATE, with the true count alongside.
    Scale shape: the sketch is a (row, col) two-phase agg — ≤ d·w rows,
    map-side combinable, broadcast back into the vocabulary-sized
    estimate join; the top-N executes as TakeOrderedAndProject. The true
    count joins in only so the oracle can value-check the estimate
    against its lower bound — production keeps the sketch alone."""
    occ = docs.select(
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    counts = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    # keyed is built ONCE (the oracle's single CTE shape): identical
    # subtrees under cells and est let ReusedExchange pick up the
    # tokenize+count shuffle instead of re-running the corpus-sized agg
    keyed = counts.select("tok", "true_n", rows).select(
        "tok",
        "true_n",
        "r",
        (_hash_pos(F.col("r"), F.col("tok")) % _CMS_W).alias("col"),
    )
    cells = keyed.groupBy("r", "col").agg(F.sum("true_n").alias("counter"))
    est = (
        keyed.join(F.broadcast(cells), ["r", "col"])
        .groupBy("tok", "true_n")
        .agg(F.min("counter").alias("est_n"))
    )
    return (
        est.select("tok", "true_n", "est_n")
        .orderBy(F.desc("est_n"), "tok")
        .limit(_CMS_TOP)
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters_cms_frame(t(spark, sf_dir, "documents"))


_CMS_POS = f"({_sql_hash_pos('r', 'tok')} % {_CMS_W})"
_CMS_ROWS = ", ".join(str(r) for r in range(_CMS_D))

ORACLE_HEAVY_HITTERS_CMS = f"""
WITH occ AS (
  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS true_n FROM occ WHERE tok <> '' GROUP BY tok
), keyed AS (
  SELECT tok, true_n, r, {_CMS_POS} AS col
  FROM counts, unnest([{_CMS_ROWS}]) AS u(r)
), cells AS (
  SELECT r, col, sum(true_n) AS counter FROM keyed GROUP BY r, col
), est AS (
  SELECT keyed.tok, keyed.true_n, min(cells.counter) AS est_n
  FROM keyed JOIN cells ON keyed.r = cells.r AND keyed.col = cells.col
  GROUP BY keyed.tok, keyed.true_n
)
SELECT tok, true_n, cast(est_n AS bigint) AS est_n
FROM est ORDER BY est_n DESC, tok LIMIT {_CMS_TOP}
"""


_HLL_M = 256  # 2^8 buckets: first 2 md5 hex chars; rsd = 1.04/sqrt(m) = 6.5%
# bias constant alpha_m for m >= 128 (Flajolet et al. 2007 §4); computed
# once and embedded as its repr so Spark and DuckDB parse the same double
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def hll_registers_frame(
    docs: DataFrame, key: str = "text", group: str = "source"
) -> DataFrame:
    """The HLL register table (grp, bucket, mx): bucket = first 2 hex
    chars of md5(key) (0..255), v = next 8 hex chars as a 32-bit value,
    rank rho = leading zeros of v + 1 (= 33 - bit_length, 33 when v = 0),
    register mx = max(rho) per (group, bucket). One map-side-combinable
    agg; <= m rows per group regardless of input size. Registers are a
    pure function of the distinct key SET and merge by bucket-wise max
    (associative/commutative/idempotent), which is what makes the
    maintained daily form exact vs a full rebuild.

    NULL keys are excluded (md5(NULL) = NULL would otherwise land a
    phantom NULL-bucket row that inflates `filled` without contributing
    to the 2^-mx sum). Range: the 32-bit hash value caps accuracy near
    ~1e8 distinct per group — this module keeps 32 bits because the
    2^-mx sum stays exact in IEEE double (33-bit rank spread + 8-bit
    sum growth < 53); past that range production reaches for Spark's
    native approx_count_distinct (64-bit HLL++ with the large-range
    correction) and forfeits the two-engine bit-parity demo."""
    return (
        docs.filter(F.col(key).isNotNull())
        .select(F.col(group).alias("grp"), F.md5(key).alias("h"))
        .select(
            "grp",
            F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("bucket"),
            F.conv(F.substring("h", 3, 8), 16, 10).cast("bigint").alias("v"),
        )
        .withColumn(
            "rho",
            F.when(F.col("v") == 0, F.lit(33)).otherwise(
                F.lit(33) - F.length(F.bin("v"))
            ),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").cast("int").alias("mx"))
    )


# Linear-counting lookup: zeros is an INTEGER in 1..m-1, so the m·ln(m/z)
# values are precomputed ONCE here and embedded as exact doubles in both
# engines (Spark literal map / DuckDB VALUES) — the estimator has no
# runtime ln() left, closing the libm-divergence door the module's own
# DDSketch comparison warns about.
import math as _math

_HLL_LC = {z: float(_HLL_M) * _math.log(float(_HLL_M) / z) for z in range(1, _HLL_M)}


def hll_estimate_frame(registers: DataFrame) -> DataFrame:
    """(grp, hll_est, zero_buckets) from a register table. Estimate =
    alpha*m^2 / (sum_present 2^-mx + zeros), switched to linear counting
    m*ln(m/zeros) in the small range (raw <= 2.5m with empty buckets),
    rounded to 4 dp for oracle parity. Every double here is engine-exact:
    the 2^-mx sum is exact in IEEE double (term spread 33 bits + 8 bits
    of sum growth < 53), and the LC values come from the precomputed
    _HLL_LC table both engines embed literally."""
    per_grp = registers.groupBy("grp").agg(
        F.count(F.lit(1)).alias("filled"),
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("sum_present"),
    )
    m = float(_HLL_M)
    zeros_i = (F.lit(_HLL_M) - F.col("filled")).cast("int")
    zeros = zeros_i.cast("double")
    raw = F.lit(_HLL_ALPHA) * F.lit(m * m) / (F.col("sum_present") + zeros)
    lc = F.element_at(
        F.create_map(
            *[F.lit(x) for z, v in sorted(_HLL_LC.items()) for x in (z, v)]
        ),
        zeros_i,
    )
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lc).otherwise(raw)
    return per_grp.select(
        "grp",
        F.round(est, 4).alias("hll_est"),
        zeros_i.alias("zero_buckets"),
    )


def _hll_exact(docs: DataFrame, key: str, group: str) -> DataFrame:
    """Exact distinct count per group — the demo/oracle value check both
    query forms share (count(DISTINCT) ignores NULL keys in both engines,
    matching the register build's NULL exclusion)."""
    return (
        docs.select(F.col(group).alias("grp"), F.md5(key).alias("h"))
        .groupBy("grp")
        .agg(F.countDistinct("h").alias("exact_distinct"))
    )


def _hll_report(est: DataFrame, exact: DataFrame, group: str) -> DataFrame:
    """Shared report shape of the standalone and maintained HLL queries
    (the _hist_report pattern): estimate next to its exact value check."""
    return (
        est.join(exact, "grp")
        .select(
            F.col("grp").alias(group),
            "exact_distinct",
            "hll_est",
            "zero_buckets",
        )
        .orderBy(group)
    )


def distinct_count_hll_frame(
    docs: DataFrame, key: str = "text", group: str = "source"
) -> DataFrame:
    """(group, exact_distinct, hll_est, zero_buckets) per group. The
    exact count(DISTINCT) column exists only so the demo/oracle can
    value-check the estimate -- production keeps the register table."""
    return _hll_report(
        hll_estimate_frame(hll_registers_frame(docs, key, group)),
        _hll_exact(docs, key, group),
        group,
    )


# registers are bucket-wise max of per-key ranks, and max is associative
# and idempotent: any split of the corpus into days, replayed or
# overlapping days included, merges to exactly the full-corpus registers
# (strictly stronger than the sum-merged censuses, which need disjoint
# days). A day writes <= m * groups rows however large its delta.
HLL_REGISTERS = Spec(
    "grp string, bucket int, mx int",
    of=hll_registers_frame,
    merge=max_on("grp", "bucket"),
)


def q_distinct_count_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained form of `distinct_count_hll`: the estimate reads the
    max-merged register generations instead of re-sketching the corpus --
    the shape a standing per-source cardinality dashboard has. Because
    max-merge over any doc_id partition equals the full-corpus registers
    exactly, the standalone oracle serves this query unchanged (the one
    full-corpus scan left is the demo-only exact count(DISTINCT)
    column)."""
    registers = maintained(
        spark,
        HLL_REGISTERS,
        state_dir_for_input(sf_dir, "documents.parquet", "hll_registers"),
        two_day_split(lambda: t(spark, sf_dir, "documents"), "doc_id"),
    )
    docs = t(spark, sf_dir, "documents")
    return _hll_report(
        hll_estimate_frame(registers), _hll_exact(docs, "text", "source"), "source"
    )


def q_distinct_count_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_count_hll_frame(t(spark, sf_dir, "documents"))


_HLL_LC_VALUES = ", ".join(f"({z}, {v!r})" for z, v in sorted(_HLL_LC.items()))

ORACLE_DISTINCT_COUNT_HLL = f"""
WITH keyed AS (
  SELECT source AS grp, md5(text) AS h FROM documents WHERE text IS NOT NULL
), reg AS (
  SELECT grp,
         ('0x' || substr(h, 1, 2))::int AS bucket,
         CASE WHEN ('0x' || substr(h, 3, 8))::bigint = 0 THEN 33
              ELSE 33 - length(bin(('0x' || substr(h, 3, 8))::bigint)) END AS rho
  FROM keyed
), mx AS (
  SELECT grp, bucket, max(rho) AS mx FROM reg GROUP BY grp, bucket
), agg AS (
  SELECT grp, count(*) AS filled, sum(power(2.0, -mx)) AS sum_present
  FROM mx GROUP BY grp
), ex AS (
  SELECT grp, count(DISTINCT h) AS exact_distinct FROM keyed GROUP BY grp
), lc AS (
  SELECT * FROM (VALUES {_HLL_LC_VALUES}) AS v(zeros_i, lc_est)
), est AS (
  SELECT agg.grp, ex.exact_distinct,
         CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({float(_HLL_M) * _HLL_M!r} AS DOUBLE)
           / (sum_present + ({_HLL_M}.0 - filled)) AS raw,
         {_HLL_M}.0 - filled AS zeros, filled
  FROM agg JOIN ex ON agg.grp = ex.grp
)
SELECT grp AS source, exact_distinct,
       round(CASE WHEN raw <= CAST({2.5 * _HLL_M!r} AS DOUBLE) AND zeros > 0
                  THEN lc.lc_est
                  ELSE raw END, 4) AS hll_est,
       ({_HLL_M} - filled)::int AS zero_buckets
FROM est LEFT JOIN lc ON lc.zeros_i = ({_HLL_M} - est.filled)::int
ORDER BY source
"""


# ---------------------------------------------------------------- quantiles

_QH_K = 8.0  # bucket width 1/8: floor(v*8) is ONE correctly-rounded IEEE
# multiply + floor, so Spark and DuckDB bucket identically; estimates
# (bucket+0.5)/8 are exact binary fractions — zero float-parity risk
_QH_QS = [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]

def hist_counts_frame(
    events: DataFrame, value: str = "value", group: str = "event_type"
) -> DataFrame:
    """The histogram table (grp, bucket, n): bucket = floor(value * 8),
    one map-side-combinable count agg. State is <= range * 8 rows per
    group regardless of input size (the events metric is bounded; an
    unbounded metric would swap in log-gamma buckets, DDSketch-style,
    keeping the rest of the machinery). Counts are ADDITIVE across
    disjoint deltas, which is what makes the maintained daily form exact
    vs a full rebuild — the same sum-merge contract as the censuses."""
    return (
        # NULL metrics are excluded, not bucketed: a NULL bucket would sit
        # at a different end of the cumulative window in Spark (nulls
        # first) vs DuckDB (nulls last), skewing every running count
        events.filter(F.col(value).isNotNull())
        .select(
            F.col(group).alias("grp"),
            F.floor(F.col(value) * F.lit(_QH_K)).cast("int").alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hist_quantiles_frame(hist: DataFrame) -> DataFrame:
    """(grp, n_events, p50_est, p90_est, p99_est) from a histogram table:
    running cumulative count per group ordered by bucket, quantile q =
    midpoint of the first bucket whose cumulative count reaches
    ceil(q * n). Absolute error <= half a bucket width (1/16) by
    construction. The window runs over <= range*8 rows per group — sketch
    state, not data — so the sort inside it is never corpus-sized."""
    from pyspark.sql.window import Window

    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "grp",
        "bucket",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy("grp")).alias("total"),
    )
    aggs = [F.max("total").alias("n_events")]
    for q, name in _QH_QS:
        hit = F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("bucket")
        )
        aggs.append(
            ((F.min(hit) + F.lit(0.5)) / F.lit(_QH_K)).alias(f"{name}_est")
        )
    return cum.groupBy("grp").agg(*aggs)


# counts sum-merge, so days must be DISJOINT (each event counted in
# exactly one generation), like the censuses and unlike the replay-tolerant
# max-merged HLL registers; a day writes <= range*8 * groups rows
HISTOGRAM = Spec(
    "grp string, bucket int, n long",
    of=hist_counts_frame,
    merge=sum_on("grp", "bucket"),
)


def _exact_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per type — demo-only columns so the
    oracle can value-check the sketch estimates (the `value_percentiles`
    parity: Spark `percentile` == DuckDB `quantile_cont`)."""
    return events.groupBy(F.col("event_type").alias("grp")).agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(name)
            for q, name in _QH_QS
        ]
    )


def _hist_report(est: DataFrame, exact: DataFrame) -> DataFrame:
    return est.join(exact, "grp").select(
        F.col("grp").alias("event_type"),
        "n_events",
        "p50_est",
        "p90_est",
        "p99_est",
        "p50",
        "p90",
        "p99",
    ).orderBy("event_type")


def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, p50/p90/p99 est + exact) — the histogram
    estimate next to the true interpolated percentile. Production keeps
    only the histogram table; the exact columns are the value-check."""
    events = t(spark, sf_dir, "events")
    return _hist_report(
        hist_quantiles_frame(hist_counts_frame(events)), _exact_percentiles(events)
    )


def q_quantile_hist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained form of `quantile_hist`: estimates read the sum-merged
    histogram generations instead of re-bucketing the corpus — the shape
    a standing latency/value-percentile dashboard has. Sum-merge over the
    disjoint event_id split equals the full-corpus histogram exactly, so
    the standalone oracle serves this query unchanged (the full-corpus
    scan left is the demo-only exact-percentile value check)."""
    hist = maintained(
        spark,
        HISTOGRAM,
        state_dir_for_input(sf_dir, "events.parquet", "quantile_hist"),
        two_day_split(lambda: t(spark, sf_dir, "events"), "event_id"),
    )
    events = t(spark, sf_dir, "events")
    return _hist_report(hist_quantiles_frame(hist), _exact_percentiles(events))


ORACLE_QUANTILE_HIST = """
WITH h AS (
  SELECT event_type AS grp,
         CAST(floor(value * 8.0) AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT grp, bucket,
         sum(n) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
         sum(n) OVER (PARTITION BY grp) AS total
  FROM h
), est AS (
  SELECT grp,
         CAST(max(total) AS BIGINT) AS n_events,
         (min(CASE WHEN cum >= ceil(0.50 * total) THEN bucket END) + 0.5) / 8.0 AS p50_est,
         (min(CASE WHEN cum >= ceil(0.90 * total) THEN bucket END) + 0.5) / 8.0 AS p90_est,
         (min(CASE WHEN cum >= ceil(0.99 * total) THEN bucket END) + 0.5) / 8.0 AS p99_est
  FROM c GROUP BY grp
), ex AS (
  SELECT event_type AS grp,
         round(quantile_cont(value, 0.50), 4) AS p50,
         round(quantile_cont(value, 0.90), 4) AS p90,
         round(quantile_cont(value, 0.99), 4) AS p99
  FROM events GROUP BY 1
)
SELECT est.grp AS event_type, n_events, p50_est, p90_est, p99_est, p50, p90, p99
FROM est JOIN ex ON est.grp = ex.grp
ORDER BY event_type
"""


SKETCH_QUERIES = {
    "bloom_dedup_prefilter": (q_bloom_dedup_prefilter, ORACLE_BLOOM_DEDUP_PREFILTER),
    "heavy_hitters_cms": (q_heavy_hitters_cms, ORACLE_HEAVY_HITTERS_CMS),
    "distinct_count_hll": (q_distinct_count_hll, ORACLE_DISTINCT_COUNT_HLL),
    "distinct_count_hll_incremental": (
        q_distinct_count_hll_incremental,
        # max-merge over any doc_id partition == full-corpus registers
        # exactly, so the standalone oracle serves the maintained form
        ORACLE_DISTINCT_COUNT_HLL,
    ),
    "quantile_hist": (q_quantile_hist, ORACLE_QUANTILE_HIST),
    "quantile_hist_incremental": (
        q_quantile_hist_incremental,
        # sum-merge over the disjoint event_id split == full-corpus
        # histogram exactly, so the standalone oracle serves this form
        ORACLE_QUANTILE_HIST,
    ),
}
