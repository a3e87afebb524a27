"""Dialogue-structure operators over agent transcripts.

Agent transcripts are not flat documents: sessions get retried, branched,
and truncated, roles alternate (or fail to), boilerplate turns (system
prompts, canned tool banners) repeat across millions of conversations, and
preference-training pipelines need best-of-n / chosen-vs-rejected pairs
grouped by shared prompt. This module adds the conversation-STRUCTURE
operators the flat-document suite (`queries_text`) and the per-conversation
curation suite (`conversations`) don't cover:

* ``conv_prefix_stats``   — branching hotspots: how many conversations share
  each exact turn-prefix (retry/branch factor per depth).
* ``conv_branch_dedup``   — drop conversations that are exact PROPER
  prefixes of a longer conversation (abandoned branches / resumed retries;
  the longer continuation subsumes them).
* ``conv_merge_roles``    — repair role alternation by folding tool turns
  into their assistant block and merging consecutive same-role turns.
* ``conv_tail_truncate``  — context-window truncation that keeps the FIRST
  turn (system/prompt pin) plus the longest suffix that fits the budget —
  the "keep the system prompt, drop the middle" trim agents actually use,
  complementing ``conv_budget_truncate``'s prefix rule.
* ``turn_boilerplate``    — turns whose exact text recurs across >= 2
  distinct conversations (system prompts, canned banners) with counts.
* ``best_of_n``           — per shared-prompt group, the single highest-
  scoring conversation (rejection sampling / BoN selection).
* ``preference_pairs``    — per shared-prompt group with >= 2 candidates,
  the (chosen, rejected) = (best, worst) pair for DPO-style training.

Every operator is oracle-checked: transcripts are derived in SQL
independently on both sides (``janet_spark.derive``) and each query carries
an equivalent DuckDB rendering.

Prefix signatures without O(n^2) concatenation
----------------------------------------------
A conversation prefix of depth d is identified by the cumulative SUM of
per-turn hashes ``h(turn_idx, text)`` over a window ordered by turn_idx.
Because turn_idx is baked into each per-turn hash, the sum is
order-sensitive over the prefix *content* (a depth-d prefix always holds
exactly turn_idx 0..d-1, so the summed multiset pins the idx->text
mapping) while staying associative — one window pass, O(1) state per row,
no quadratic running concatenation. Per-turn hashes are the first 10 hex
chars of md5 (< 2^40), so a 10^6-turn prefix sums below 2^60: no bigint
overflow under ANSI mode, in either engine. Collision odds for a corpus of
P distinct prefixes are ~P^2 / 2^41 per depth bucket — the same birthday
budget the MinHash suite documents; exact-dedup correctness at oracle
scales is unaffected (verified by hash match) and at 100 TB a collision
mis-drops one branch, the same failure class as any hash-keyed dedup.

Scale notes (100 TB / 10^12 turns):
- every window/groupBy below partitions on ``conv_id`` — the same single
  shuffle key the rest of the conversation suite reuses.
- ``conv_prefix_stats`` caps the report at depth <= MAX_BRANCH_DEPTH
  (branching happens early in real agent traces); the depth filter is
  applied BEFORE the (depth, sig) shuffle, so the grouped volume is
  bounded by 64 rows per conversation, not by total turns.
- ``conv_branch_dedup`` only needs prefix rows at depths where SOME
  conversation ends: the distinct-lengths set (<= max turns per conv,
  ~10^6 rows worst case) broadcasts, pruning the (depth, sig) join input
  from "every turn" to "one row per conv per distinct ending depth".
- ``turn_boilerplate`` groups on md5(text), never shuffling raw text
  except one min(text) sample per group (map-side partial agg first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from janet_spark.conversations import BUDGET_WORDS, _DUCK_WORDS, _words
from janet_spark.derive import DUCKDB_TRANSCRIPTS_SQL, derived_transcripts
from janet_spark.reassemble import _ordered_concat

_CTE = f"WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL})"

MAX_BRANCH_DEPTH = 64  # prefix-stats report cap; branching is front-loaded

# engine-portable per-turn numeric hash: first 10 hex chars of md5 -> bigint
# (< 2^40, so prefix sums of 10^6 turns stay < 2^60 — ANSI-overflow-safe)
def _thash():
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("turn_idx").cast("string"), F.lit(":"), F.col("text")
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")


_DUCK_THASH = (
    "CAST('0x' || substr(md5(cast(turn_idx AS varchar) || ':' || text), 1, 10)"
    " AS BIGINT)"
)

_DUCK_PREFIX = f"""h AS (
  SELECT conv_id, turn_idx, {_DUCK_THASH} AS thash FROM transcripts
), p AS (
  SELECT conv_id, turn_idx + 1 AS depth,
         cast(sum(thash) OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
              AS psig
  FROM h
)"""


def _prefix_sigs(tr: DataFrame) -> DataFrame:
    """(conv_id, depth, psig): the cumulative prefix signature at every
    depth, one window pass keyed on conv_id."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tr.select(
        "conv_id",
        (F.col("turn_idx") + F.lit(1)).alias("depth"),
        F.sum(_thash()).over(w).alias("psig"),
    )


# ---------------------------------------------------------------------------
# conv_prefix_stats: branching hotspots per prefix depth
# ---------------------------------------------------------------------------


def conv_prefix_stats_frame(tr: DataFrame) -> DataFrame:
    """How many conversations share each exact turn-prefix, per depth —
    the retry/branch factor of an agent corpus. Only prefixes shared by
    >= 2 conversations are reported, capped at MAX_BRANCH_DEPTH (the
    depth filter runs BEFORE the (depth, sig) shuffle)."""
    sigs = _prefix_sigs(tr).filter(F.col("depth") <= MAX_BRANCH_DEPTH)
    return (
        sigs.groupBy("depth", "psig")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .filter(F.col("n_convs") >= 2)
        .select("depth", F.col("psig").alias("prefix_sig"), "n_convs")
        .orderBy("depth", "prefix_sig")
    )


def q_conv_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_prefix_stats_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_PREFIX_STATS = f"""
{_CTE},
{_DUCK_PREFIX}
SELECT depth, psig AS prefix_sig, count(*) AS n_convs
FROM p WHERE depth <= {MAX_BRANCH_DEPTH}
GROUP BY depth, psig HAVING count(*) >= 2
ORDER BY depth, prefix_sig
"""


# ---------------------------------------------------------------------------
# conv_branch_dedup: drop conversations that are proper prefixes of longer ones
# ---------------------------------------------------------------------------


def conv_branch_dedup_frame(tr: DataFrame) -> DataFrame:
    """Survivors after dropping every conversation whose full turn sequence
    is an exact PROPER prefix of some other conversation — the abandoned
    branch / superseded retry: the longer continuation contains it whole,
    so training on both double-weights the shared prefix.

    Two identical conversations are NOT prefixes of each other (proper
    means strictly shorter) — exact duplicates stay `conv_dedup`'s job.

    Shape: one conv_id window pass for signatures; the prefix side is
    pruned to depths where some conversation actually ENDS via a broadcast
    semi-join on the distinct-lengths set (bounded by max turns per conv,
    not by total turns); the drop is a single anti equi-join on
    (depth, sig)."""
    sigs = _prefix_sigs(tr)
    fulls = sigs.groupBy("conv_id").agg(
        F.max("depth").alias("n_turns"),
        F.max_by("psig", "depth").alias("full_sig"),
    )
    lengths = fulls.select(F.col("n_turns").alias("depth")).distinct()
    ending_depths = sigs.join(F.broadcast(lengths), "depth", "left_semi")
    prefixes = (
        ending_depths.join(fulls.select("conv_id", "n_turns"), "conv_id")
        .filter(F.col("depth") < F.col("n_turns"))
        .select("depth", "psig")
        .distinct()
    )
    return (
        fulls.join(
            prefixes,
            (fulls.n_turns == prefixes.depth) & (fulls.full_sig == prefixes.psig),
            "left_anti",
        )
        .select("conv_id", "n_turns")
        .orderBy("conv_id")
    )


def q_conv_branch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_branch_dedup_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_BRANCH_DEDUP = f"""
{_CTE},
{_DUCK_PREFIX},
fulls AS (
  SELECT conv_id, max(depth) AS n_turns, arg_max(psig, depth) AS full_sig
  FROM p GROUP BY conv_id
), pref AS (
  SELECT DISTINCT p.depth, p.psig
  FROM p JOIN fulls f ON p.conv_id = f.conv_id
  WHERE p.depth < f.n_turns
)
SELECT conv_id, n_turns FROM fulls
WHERE NOT EXISTS (
  SELECT 1 FROM pref
  WHERE pref.depth = fulls.n_turns AND pref.psig = fulls.full_sig
)
ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# conv_merge_roles: fold tool turns into assistant, merge consecutive runs
# ---------------------------------------------------------------------------


def conv_merge_roles_frame(tr: DataFrame) -> DataFrame:
    """Role-alternation repair: tool turns fold into their assistant block
    (role 'tool' -> 'assistant'), then consecutive same-role turns merge
    into one turn (texts joined in turn_idx order, earliest ts kept) — the
    canonical user/assistant alternation chat-format trainers expect.

    Islands-and-gaps: lag() flags role changes, a running sum numbers the
    runs, one groupBy per (conv, run) — all three share the conv_id
    partitioning (single shuffle)."""
    role2 = F.when(F.col("role") == "tool", F.lit("assistant")).otherwise(
        F.col("role")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = tr.withColumn("role2", role2).withColumn(
        "chg",
        F.when(
            F.lag("role2").over(w).isNull()
            | (F.lag("role2").over(w) != F.col("role2")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    runs = marked.withColumn("grp", F.sum("chg").over(wrun))
    return (
        runs.groupBy("conv_id", "grp")
        .agg(
            F.min("role2").alias("role"),
            _ordered_concat("turn_idx", "text", " ").alias("text"),
            F.count(F.lit(1)).alias("n_merged"),
            F.min("ts").alias("ts"),
        )
        .select(
            "conv_id",
            (F.col("grp") - 1).cast("int").alias("turn_idx"),
            "role",
            "text",
            "n_merged",
            "ts",
        )
        .orderBy("conv_id", "turn_idx")
    )


def q_conv_merge_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_merge_roles_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_MERGE_ROLES = f"""
{_CTE},
r AS (
  SELECT conv_id, turn_idx, ts, text,
         CASE WHEN role = 'tool' THEN 'assistant' ELSE role END AS role2
  FROM transcripts
), m AS (
  SELECT *, CASE WHEN lag(role2) OVER w IS NULL
                      OR lag(role2) OVER w <> role2 THEN 1 ELSE 0 END AS chg
  FROM r WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), g AS (
  SELECT *, sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM m
)
SELECT conv_id, cast(grp - 1 AS int) AS turn_idx, min(role2) AS role,
       string_agg(text, ' ' ORDER BY turn_idx) AS text,
       count(*) AS n_merged, min(ts) AS ts
FROM g GROUP BY conv_id, grp ORDER BY conv_id, turn_idx
"""


# ---------------------------------------------------------------------------
# conv_tail_truncate: pin the first turn, keep the longest fitting suffix
# ---------------------------------------------------------------------------


def conv_tail_truncate_frame(tr: DataFrame) -> DataFrame:
    """Suffix-keeping context truncation: the FIRST turn (system prompt /
    task statement) is always kept; the remaining budget goes to the
    longest SUFFIX of later turns that fits — 'keep the system prompt,
    drop the middle', the trim long-running agent sessions actually get.
    A first turn alone over budget is still kept (the pin wins).

    Reverse-cumulative window (ORDER BY turn_idx DESC) + an unordered
    partition window for the first turn's weight — both on the conv_id
    partitioning."""
    tr = tr.withColumn("words", _words())
    wconv = Window.partitionBy("conv_id")
    wrev = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_words = F.max(
        F.when(F.col("turn_idx") == 0, F.col("words"))
    ).over(wconv)
    cur = tr.withColumn("rev_cum", F.sum("words").over(wrev)).withColumn(
        "fw", first_words
    )
    kept = (F.col("turn_idx") == 0) | (
        F.col("rev_cum") <= F.lit(BUDGET_WORDS) - F.col("fw")
    )
    return (
        cur.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("total_turns"),
            F.sum(kept.cast("int")).alias("kept_turns"),
            F.sum(F.when(kept, F.col("words")).otherwise(0)).alias("kept_words"),
        )
        .withColumn(
            "has_gap",
            (
                (F.col("kept_turns") >= 2)
                & (F.col("kept_turns") < F.col("total_turns"))
            ).cast("int"),
        )
        .orderBy("conv_id")
    )


def q_conv_tail_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_tail_truncate_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_TAIL_TRUNCATE = f"""
{_CTE},
c AS (
  SELECT conv_id, turn_idx, {_DUCK_WORDS} AS words,
         sum({_DUCK_WORDS}) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_cum,
         max(CASE WHEN turn_idx = 0 THEN {_DUCK_WORDS} END)
             OVER (PARTITION BY conv_id) AS fw
  FROM transcripts
), k AS (
  SELECT conv_id, words,
         CASE WHEN turn_idx = 0 OR rev_cum <= {BUDGET_WORDS} - fw
              THEN 1 ELSE 0 END AS kept
  FROM c
)
SELECT conv_id, count(*) AS total_turns,
       cast(sum(kept) AS bigint) AS kept_turns,
       cast(sum(CASE WHEN kept = 1 THEN words ELSE 0 END) AS bigint) AS kept_words,
       CASE WHEN sum(kept) >= 2 AND sum(kept) < count(*) THEN 1 ELSE 0 END AS has_gap
FROM k GROUP BY conv_id ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# turn_boilerplate: turns whose exact text recurs across conversations
# ---------------------------------------------------------------------------


def turn_boilerplate_frame(tr: DataFrame) -> DataFrame:
    """Cross-conversation boilerplate census: non-empty turn texts that
    appear verbatim in >= 2 distinct conversations (system prompts, canned
    tool banners, template greetings) — the rows a trainer down-weights or
    strips before packing. Groups on md5(text); raw text never shuffles
    beyond one min() sample per group, and the count-distinct is the
    standard two-phase partial agg."""
    return (
        tr.filter(F.col("text") != "")
        .groupBy(F.md5("text").alias("turn_sig"))
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.substring(F.min("text"), 1, 40).alias("sample_text"),
        )
        .filter(F.col("n_convs") >= 2)
        .orderBy(F.col("n_convs").desc(), "turn_sig")
    )


def q_turn_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return turn_boilerplate_frame(derived_transcripts(spark, sf_dir))


def conv_boilerplate_strip_frame(tr: DataFrame) -> DataFrame:
    """The REWRITE `turn_boilerplate` censuses for: drop every turn whose
    exact text recurs in >= 2 distinct conversations (system prompts,
    canned banners) and densely re-index the survivors per conversation —
    the strip-before-packing step a trainer runs so boilerplate never
    reaches the loss. Empty turns are never boilerplate (same rule as the
    census). Output keeps the original index as `orig_turn_idx` so spans
    and lineage keyed to the pre-strip ordering still resolve.

    Scale shape: census = one two-phase distinct agg on md5(text) (raw
    text never shuffles); the strip is a sig-keyed left-anti-shaped join
    where the boilerplate side is one 32-char row per distinct recurring
    text (broadcastable — boilerplate vocabularies are tiny by
    definition); re-indexing is a conv-keyed window, skew-bounded by
    conversation length exactly like reassembly."""
    boiler = (
        tr.filter(F.col("text") != "")
        .groupBy(F.md5("text").alias("sig"))
        .agg(F.countDistinct("conv_id").alias("n_convs"))
        .filter(F.col("n_convs") >= 2)
        .select("sig")
    )
    kept = tr.withColumn("sig", F.md5("text")).join(boiler, "sig", "left_anti")
    w = Window.partitionBy("conv_id").orderBy("orig_turn_idx")
    return (
        kept.select(
            "conv_id",
            F.col("turn_idx").alias("orig_turn_idx"),
            "role",
            "text",
        )
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select("conv_id", "turn_idx", "orig_turn_idx", "role", "text")
        .orderBy("conv_id", "turn_idx")
    )


def q_conv_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_boilerplate_strip_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_BOILERPLATE_STRIP = f"""
{_CTE}
, c AS (
  SELECT md5(text) AS sig FROM transcripts WHERE text <> ''
  GROUP BY md5(text) HAVING count(DISTINCT conv_id) >= 2
), k AS (
  SELECT t.conv_id, t.turn_idx AS orig_turn_idx, t.role, t.text
  FROM transcripts t LEFT JOIN c ON md5(t.text) = c.sig
  WHERE c.sig IS NULL
)
SELECT conv_id,
       cast(row_number() OVER (PARTITION BY conv_id ORDER BY orig_turn_idx)
            - 1 AS int) AS turn_idx,
       orig_turn_idx, role, text
FROM k ORDER BY conv_id, turn_idx
"""


ORACLE_TURN_BOILERPLATE = f"""
{_CTE}
SELECT md5(text) AS turn_sig,
       count(DISTINCT conv_id) AS n_convs,
       count(*) AS n_occurrences,
       substr(min(text), 1, 40) AS sample_text
FROM transcripts WHERE text <> ''
GROUP BY md5(text) HAVING count(DISTINCT conv_id) >= 2
ORDER BY n_convs DESC, turn_sig
"""


# ---------------------------------------------------------------------------
# best_of_n / preference_pairs: shared-prompt candidate selection
# ---------------------------------------------------------------------------

# The candidate score here is total conversation words — a deterministic,
# oracle-checkable stand-in for the reward-model / rater score a production
# pipeline would join in (the operator's shape is identical: any per-conv
# numeric column works).


def _scored_candidates(tr: DataFrame) -> DataFrame:
    """(prompt_sig, conv_id, score): conversations grouped by identical
    FIRST turn (the shared prompt), scored per conversation. Both aggs key
    on conv_id; the prompt join is conv_id-to-conv_id."""
    prompts = tr.filter(F.col("turn_idx") == 0).select(
        "conv_id", F.md5("text").alias("prompt_sig")
    )
    scores = (
        tr.withColumn("words", _words())
        .groupBy("conv_id")
        .agg(F.sum("words").cast("long").alias("score"))
    )
    return prompts.join(scores, "conv_id")


_DUCK_CANDIDATES = f"""cand AS (
  SELECT p.conv_id, p.prompt_sig, s.score
  FROM (SELECT conv_id, md5(text) AS prompt_sig
        FROM transcripts WHERE turn_idx = 0) p
  JOIN (SELECT conv_id, cast(sum({_DUCK_WORDS}) AS bigint) AS score
        FROM transcripts GROUP BY conv_id) s
  ON p.conv_id = s.conv_id
)"""


def best_of_n_frame(tr: DataFrame) -> DataFrame:
    """Rejection sampling / best-of-n: among conversations sharing an
    identical first turn, keep the single highest-scoring one (ties break
    to the smallest conv_id). One window over prompt_sig."""
    cand = _scored_candidates(tr)
    w = Window.partitionBy("prompt_sig").orderBy(
        F.col("score").desc(), F.col("conv_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn("n_candidates", F.count(F.lit(1)).over(Window.partitionBy("prompt_sig")))
        .filter(F.col("rn") == 1)
        .select("prompt_sig", "conv_id", "score", "n_candidates")
        .orderBy("prompt_sig")
    )


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    return best_of_n_frame(derived_transcripts(spark, sf_dir))


ORACLE_BEST_OF_N = f"""
{_CTE},
{_DUCK_CANDIDATES}
SELECT prompt_sig, conv_id, score, n_candidates FROM (
  SELECT prompt_sig, conv_id, score,
         row_number() OVER (PARTITION BY prompt_sig
                            ORDER BY score DESC, conv_id ASC) AS rn,
         count(*) OVER (PARTITION BY prompt_sig) AS n_candidates
  FROM cand
) WHERE rn = 1 ORDER BY prompt_sig
"""


def preference_pairs_frame(tr: DataFrame) -> DataFrame:
    """DPO-style pair construction: for every shared-prompt group with
    >= 2 candidates, emit (chosen, rejected) = (best, worst) by score.
    Ties: chosen breaks to the smallest conv_id, rejected to the largest,
    so a two-way tie still yields a well-defined (distinct) pair. Two
    row_number passes over the SAME prompt_sig partitioning collapse into
    one shuffle."""
    cand = _scored_candidates(tr)
    wb = Window.partitionBy("prompt_sig").orderBy(
        F.col("score").desc(), F.col("conv_id").asc()
    )
    ww = Window.partitionBy("prompt_sig").orderBy(
        F.col("score").asc(), F.col("conv_id").desc()
    )
    ranked = cand.withColumn("rb", F.row_number().over(wb)).withColumn(
        "rw", F.row_number().over(ww)
    )
    return (
        ranked.groupBy("prompt_sig")
        .agg(
            F.max(F.when(F.col("rb") == 1, F.col("conv_id"))).alias("chosen_conv"),
            F.max(F.when(F.col("rb") == 1, F.col("score"))).alias("chosen_score"),
            F.max(F.when(F.col("rw") == 1, F.col("conv_id"))).alias(
                "rejected_conv"
            ),
            F.max(F.when(F.col("rw") == 1, F.col("score"))).alias(
                "rejected_score"
            ),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .filter(F.col("n_candidates") >= 2)
        .select(
            "prompt_sig",
            "chosen_conv",
            "rejected_conv",
            "chosen_score",
            "rejected_score",
            "n_candidates",
        )
        .orderBy("prompt_sig")
    )


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return preference_pairs_frame(derived_transcripts(spark, sf_dir))


ORACLE_PREFERENCE_PAIRS = f"""
{_CTE},
{_DUCK_CANDIDATES},
ranked AS (
  SELECT prompt_sig, conv_id, score,
         row_number() OVER (PARTITION BY prompt_sig
                            ORDER BY score DESC, conv_id ASC) AS rb,
         row_number() OVER (PARTITION BY prompt_sig
                            ORDER BY score ASC, conv_id DESC) AS rw
  FROM cand
)
SELECT prompt_sig,
       max(CASE WHEN rb = 1 THEN conv_id END) AS chosen_conv,
       max(CASE WHEN rw = 1 THEN conv_id END) AS rejected_conv,
       max(CASE WHEN rb = 1 THEN score END) AS chosen_score,
       max(CASE WHEN rw = 1 THEN score END) AS rejected_score,
       count(*) AS n_candidates
FROM ranked GROUP BY prompt_sig HAVING count(*) >= 2
ORDER BY prompt_sig
"""


# ---------------------------------------------------------------------------
# sft_examples: per-assistant-turn (context, target) training examples
# ---------------------------------------------------------------------------

# context fan-out bounds: at most MAX_CTX_TURNS preceding turns AND at most
# BUDGET_WORDS context words; the turn cap is what makes the banded join's
# per-target fan-out a CONSTANT (2 blocks x 32 rows) independent of
# conversation length.
MAX_CTX_TURNS = 32
_CTX_BLK = MAX_CTX_TURNS  # block width == turn cap -> exactly 2 blocks/target


def sft_examples_frame(tr: DataFrame) -> DataFrame:
    """Unroll each conversation into per-assistant-turn training examples:
    (context = the longest run of immediately-preceding turns that fits
    BUDGET_WORDS, capped at MAX_CTX_TURNS; target = the assistant turn).
    A target whose immediately-previous turn alone exceeds the budget is
    dropped (no usable context).

    Scale shape: the context lookup is a BANDED self-join, never a
    conv-keyed cross join — targets explode to exactly 2 turn-blocks
    (floor(idx/32) and its predecessor) and join on (conv_id, blk), so a
    10^6-turn conversation produces <= 64 candidate rows per target
    instead of 10^6. Same pattern as `range_join_banded`
    (queries_extra.py); the word-budget filter then prunes within the
    band. One window pass for cumulative words, one grouped concat."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cur = tr.withColumn("words", _words()).withColumn(
        "before", F.sum(_words()).over(w) - F.col("words")
    )
    targets = (
        cur.filter((F.col("role") == "assistant") & (F.col("turn_idx") > 0))
        .select(
            "conv_id",
            F.col("turn_idx").alias("t_idx"),
            F.col("text").alias("target_text"),
            F.col("before").alias("t_before"),
        )
        .withColumn(
            "blk",
            F.explode(
                F.array(
                    F.floor(F.col("t_idx") / _CTX_BLK),
                    F.floor(F.col("t_idx") / _CTX_BLK) - 1,
                )
            ),
        )
    )
    ctx = cur.select(
        "conv_id",
        F.col("turn_idx").alias("j_idx"),
        F.col("text").alias("j_text"),
        F.col("words").alias("j_words"),
        F.col("before").alias("j_before"),
        F.floor(F.col("turn_idx") / _CTX_BLK).alias("blk"),
    )
    joined = targets.join(ctx, ["conv_id", "blk"]).filter(
        (F.col("j_idx") < F.col("t_idx"))
        & (F.col("j_idx") >= F.col("t_idx") - MAX_CTX_TURNS)
        & (F.col("t_before") - F.col("j_before") <= F.lit(BUDGET_WORDS))
    )
    return (
        joined.groupBy("conv_id", "t_idx", "target_text")
        .agg(
            _ordered_concat("j_idx", "j_text", " ").alias("context_text"),
            F.count(F.lit(1)).alias("n_ctx_turns"),
            F.sum("j_words").cast("long").alias("ctx_words"),
        )
        .select(
            "conv_id",
            F.col("t_idx").alias("turn_idx"),
            "context_text",
            "target_text",
            "n_ctx_turns",
            "ctx_words",
        )
        .orderBy("conv_id", "turn_idx")
    )


def q_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sft_examples_frame(derived_transcripts(spark, sf_dir))


ORACLE_SFT_EXAMPLES = f"""
{_CTE},
c AS (
  SELECT conv_id, turn_idx, role, text, {_DUCK_WORDS} AS words,
         sum({_DUCK_WORDS}) OVER (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - {_DUCK_WORDS} AS bef
  FROM transcripts
), tgt AS (
  SELECT conv_id, turn_idx AS t_idx, text AS target_text, bef AS t_before
  FROM c WHERE role = 'assistant' AND turn_idx > 0
)
SELECT tgt.conv_id, tgt.t_idx AS turn_idx,
       string_agg(c.text, ' ' ORDER BY c.turn_idx) AS context_text,
       tgt.target_text,
       count(*) AS n_ctx_turns,
       cast(sum(c.words) AS bigint) AS ctx_words
FROM tgt JOIN c
  ON c.conv_id = tgt.conv_id
 AND c.turn_idx < tgt.t_idx
 AND c.turn_idx >= tgt.t_idx - {MAX_CTX_TURNS}
 AND tgt.t_before - c.bef <= {BUDGET_WORDS}
GROUP BY tgt.conv_id, tgt.t_idx, tgt.target_text
ORDER BY tgt.conv_id, turn_idx
"""


# ---------------------------------------------------------------------------
# conv_lang_consistency: per-turn language ID -> code-switching gate
# ---------------------------------------------------------------------------

# Per-turn detection is rendered as pure SQL expressions in BOTH engines
# from the SAME profile table (textops._PROFILES) used by the Arrow-UDF
# `lang_id` — entirely whole-stage-codegen on the Spark side (no Python),
# the better routing for a projection this simple; `lang_id` keeps the
# Arrow path as the extensible variant. Semantics mirror
# textops.detect_lang exactly: empty -> 'und'; CJK ratio > 0.05 -> 'zh';
# stopword arg-max with ties to the lexicographically LARGEST code.

_LANG_WORD_RE = "[a-zA-Zäöüßéèêàçñáíóú]+"
_LANG_CJK_NEG = "[^一-鿿㐀-䶿]"


def _lang_case(words_fn, score_fn) -> str:
    """Render the detect_lang CASE ladder; `words_fn`/`score_fn` provide
    the dialect-specific word-array and list-count expressions."""
    from janet_spark.textops import _PROFILES

    assert set(_PROFILES) == {"en", "de", "fr", "es"}, sorted(_PROFILES)
    scores = {lang: score_fn(sorted(_PROFILES[lang])) for lang in _PROFILES}
    best = f"greatest({scores['en']}, {scores['de']}, {scores['fr']}, {scores['es']})"
    return f"""CASE
      WHEN text IS NULL OR text = '' THEN 'und'
      WHEN length(regexp_replace(text, '{_LANG_CJK_NEG}', '')) > 0
           AND length(regexp_replace(text, '{_LANG_CJK_NEG}', ''))
               / greatest(length(text), 1) > 0.05 THEN 'zh'
      WHEN size({words_fn}) = 0 THEN 'und'
      WHEN {best} = 0 THEN 'und'
      WHEN {scores['fr']} = {best} THEN 'fr'
      WHEN {scores['es']} = {best} THEN 'es'
      WHEN {scores['en']} = {best} THEN 'en'
      ELSE 'de'
    END"""


def _duck_turn_lang() -> str:
    words = (
        f"list_transform(regexp_extract_all(coalesce(text, ''), "
        f"'{_LANG_WORD_RE}'), w -> lower(w))"
    )

    def score(stops: list[str]) -> str:
        lst = "[" + ",".join(f"'{w}'" for w in stops) + "]"
        return f"len(list_filter({words}, w -> list_contains({lst}, w)))"

    sql = _lang_case(words, score)
    # DuckDB uses len() for list length and 'g' flag for global replace
    return sql.replace(f"size({words})", f"len({words})").replace(
        f"'{_LANG_CJK_NEG}', ''", f"'{_LANG_CJK_NEG}', '', 'g'"
    )


def _turn_lang_col(tr: DataFrame) -> DataFrame:
    """(conv_id, lang): the detect_lang ladder with its inputs
    MATERIALIZED as columns first. The rendered one-expression CASE
    (still used verbatim by the DuckDB oracle) textually interpolates
    the words-regexp into every score and every score into every branch
    (~14 appearances per row) — but whole-stage codegen's subexpression
    elimination already de-duplicates most of that, so the honest
    interleaved A/B on the 1.38M-turn stress corpus shows a MODEST,
    consistent win for computing (__w, __cjk, four scores) once: warm
    pairs old 17.8-18.0 s vs new 13.9-15.1 s (~1.25x at local[32]; a
    33.5 s first-run "old" was JIT warmup, not the expression tree).
    Kept because it is never slower and the contract is pinned twice:
    pytest equates the ladder with textops.detect_lang, and the oracle
    hash-check equates this path with the rendered SQL."""
    from janet_spark.textops import _PROFILES

    words = F.expr(
        f"transform(regexp_extract_all(coalesce(text, ''), "
        f"'{_LANG_WORD_RE}', 0), w -> lower(w))"
    )
    cjk_len = F.length(F.regexp_replace("text", _LANG_CJK_NEG, ""))
    base = tr.select(
        "conv_id", "text", words.alias("__w"), cjk_len.alias("__cjk")
    )
    score_cols = {}
    for lang in sorted(_PROFILES):
        lst = ",".join(f"'{w}'" for w in sorted(_PROFILES[lang]))
        score_cols[lang] = F.expr(
            f"size(filter(__w, w -> array_contains(array({lst}), w)))"
        ).alias(f"__s_{lang}")
    scored = base.select("conv_id", "text", "__w", "__cjk", *score_cols.values())
    s = {lang: F.col(f"__s_{lang}") for lang in _PROFILES}
    best = F.greatest(s["en"], s["de"], s["fr"], s["es"])
    lang = (
        F.when(F.col("text").isNull() | (F.col("text") == ""), F.lit("und"))
        .when(
            (F.col("__cjk") > 0)
            & (F.col("__cjk") / F.greatest(F.length("text"), F.lit(1)) > 0.05),
            F.lit("zh"),
        )
        .when(F.size("__w") == 0, F.lit("und"))
        .when(best == 0, F.lit("und"))
        .when(s["fr"] == best, F.lit("fr"))
        .when(s["es"] == best, F.lit("es"))
        .when(s["en"] == best, F.lit("en"))
        .otherwise(F.lit("de"))
    )
    return scored.select("conv_id", lang.alias("lang"))


def conv_lang_consistency_frame(tr: DataFrame) -> DataFrame:
    """Code-switching gate: per-turn language ID (pure JVM expression),
    then per conversation the majority language (ties to the smallest
    code), the count of distinct detected languages (excluding 'und'),
    and a consistency flag (<= 1 language). Mixed-language conversations
    are what a monolingual training mix filters out.

    Both groupBys key on conv_id (the second on (conv_id, lang) — same
    leading key, map-side combinable); the majority pick is one
    row_number window over the tiny per-(conv, lang) aggregate."""
    per_turn = _turn_lang_col(tr)
    counts = (
        per_turn.filter(F.col("lang") != "und")
        .groupBy("conv_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wmaj = Window.partitionBy("conv_id").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    stats = (
        counts.withColumn("rn", F.row_number().over(wmaj))
        .groupBy("conv_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("maj"),
            F.count(F.lit(1)).alias("n_langs"),
        )
    )
    convs = tr.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return (
        convs.join(stats, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce(F.col("maj"), F.lit("und")).alias("majority_lang"),
            F.coalesce(F.col("n_langs"), F.lit(0)).cast("long").alias("n_langs"),
            (F.coalesce(F.col("n_langs"), F.lit(0)) <= 1)
            .cast("int")
            .alias("lang_consistent"),
        )
        .orderBy("conv_id")
    )


def q_conv_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_lang_consistency_frame(derived_transcripts(spark, sf_dir))


def _oracle_conv_lang_consistency() -> str:
    return f"""
{_CTE},
pt AS (
  SELECT conv_id, {_duck_turn_lang()} AS lang FROM transcripts
), cnt AS (
  SELECT conv_id, lang, count(*) AS n FROM pt
  WHERE lang <> 'und' GROUP BY conv_id, lang
), st AS (
  SELECT conv_id,
         max(CASE WHEN rn = 1 THEN lang END) AS maj,
         count(*) AS n_langs
  FROM (SELECT conv_id, lang,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY n DESC, lang ASC) AS rn
        FROM cnt)
  GROUP BY conv_id
), cv AS (
  SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id
)
SELECT cv.conv_id, cv.n_turns,
       coalesce(st.maj, 'und') AS majority_lang,
       cast(coalesce(st.n_langs, 0) AS bigint) AS n_langs,
       CASE WHEN coalesce(st.n_langs, 0) <= 1 THEN 1 ELSE 0 END
         AS lang_consistent
FROM cv LEFT JOIN st ON cv.conv_id = st.conv_id
ORDER BY cv.conv_id
"""


# ---------------------------------------------------------------------------
# conv_decontaminate: eval 8-gram probe at conversation grain
# ---------------------------------------------------------------------------

_DECONTAM_GRAM = 8
_CONV_EVAL_MOD = 11  # source doc_id % 11 == 0 -> held-out eval conversations


def _conv_src_id():
    # conv_id = 'conv-' || lpad(doc_id, 6, '0') (derive.py) — recover the
    # numeric source id for the deterministic eval-slice predicate
    return F.substring(F.col("conv_id"), 6, 6).cast("long")


def conv_decontaminate_frame(tr: DataFrame) -> DataFrame:
    """Conversation-grain benchmark decontamination: flag every TRAINING
    conversation whose any turn shares a sliding 8-word-gram with a turn
    of the held-out EVAL conversations (the deterministic %11 slice
    standing in for a benchmark suite). The doc-grain `decontaminate`
    can't see this: a contaminated turn buried in a long conversation is
    a conversation-level removal decision.

    Scale shape (same as queries_text.q_decontaminate): the eval gram set
    is tiny and BROADCASTS; the probe is map-side over exploded training
    turn-grams; the only shuffle is the per-conversation hit count
    (map-side combinable). Grams are distinct within a turn, counted per
    (turn, gram) across the conversation."""
    from janet_spark.queries_text import _gram_array

    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    turns = tr.select(
        "conv_id", (_conv_src_id() % _CONV_EVAL_MOD == 0).alias("is_eval"),
        words.alias("__words"),
    ).withColumn(
        "grams", F.array_distinct(_gram_array(F.col("__words"), _DECONTAM_GRAM))
    )
    eval_grams = (
        turns.filter("is_eval").select(F.explode("grams").alias("gram")).distinct()
    )
    return (
        turns.filter(~F.col("is_eval"))
        .select("conv_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
        .orderBy("conv_id")
    )


def q_conv_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_decontaminate_frame(derived_transcripts(spark, sf_dir))


ORACLE_CONV_DECONTAMINATE = f"""
{_CTE},
tu AS (
  SELECT conv_id,
         cast(substr(conv_id, 6) AS bigint) % {_CONV_EVAL_MOD} = 0 AS is_eval,
         string_split(coalesce(text, ''), ' ') AS arr
  FROM transcripts
), g AS (
  SELECT conv_id, is_eval,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(arr) - {_DECONTAM_GRAM - 1}, 0)),
             i -> array_to_string(arr[i:i + {_DECONTAM_GRAM - 1}], ' ')))) AS gram
  FROM tu
), ev AS (
  SELECT DISTINCT gram FROM g WHERE is_eval
)
SELECT g.conv_id, count(*) AS n_hit_grams
FROM g JOIN ev USING (gram)
WHERE NOT g.is_eval
GROUP BY g.conv_id ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# prompt_safe_split: leakage-free train/eval split by shared prompt
# ---------------------------------------------------------------------------

_PSPLIT_EVAL_PCT = 10
_PSPLIT_SEED = "psplit0"


def prompt_safe_split_frame(tr: DataFrame) -> DataFrame:
    """Train/eval split whose UNIT is the shared prompt: conversations
    with an identical first turn always land on the same side, so a
    best-of-n sibling of an eval conversation can never leak into
    training (the conversation-grain analog of `cluster_safe_split`).
    The side is a deterministic md5 gate on the prompt signature —
    engine-portable, projection-time, no shuffle beyond the turn-0
    filter's scan."""
    prompts = tr.filter(F.col("turn_idx") == 0).select(
        "conv_id", F.md5("text").alias("prompt_sig")
    )
    gate = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(_PSPLIT_SEED), F.col("prompt_sig"))), 1, 2
        ),
        16,
        10,
    ).cast("int")
    return prompts.withColumn(
        "split",
        F.when(gate < int(256 * _PSPLIT_EVAL_PCT / 100), F.lit("eval")).otherwise(
            F.lit("train")
        ),
    ).orderBy("conv_id")


def q_prompt_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prompt_safe_split_frame(derived_transcripts(spark, sf_dir))


ORACLE_PROMPT_SAFE_SPLIT = f"""
{_CTE}
SELECT conv_id, md5(text) AS prompt_sig,
       CASE WHEN CAST('0x' || substr(
                md5('{_PSPLIT_SEED}:' || md5(text)), 1, 2) AS INT)
              < {int(256 * _PSPLIT_EVAL_PCT / 100)}
            THEN 'eval' ELSE 'train' END AS split
FROM transcripts WHERE turn_idx = 0 ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# chat_render: SFT chat-template serialization with char-span offsets
# ---------------------------------------------------------------------------

_RENDER_EOT = "<|eot|>"


def chat_render_frame(tr: DataFrame) -> DataFrame:
    """Serialize each conversation into the chat-template text a trainer
    consumes — WITHOUT ever materializing a conversation-sized string.
    Each turn renders as ``<|role|>text<|eot|>``; the output is one row
    per turn carrying the rendered fragment plus character offsets into
    the implied concatenation: ``char_start/char_end`` bound the whole
    fragment and ``target_start/target_end`` bound just the text (the
    span a loss mask keeps when ``is_target`` — role == assistant).

    A 10^6-turn conversation therefore contributes 10^6 bounded rows,
    never a 50 MB concat on one reducer: the writer streams fragments in
    (conv_id, turn_idx) order and the offsets are already absolute. The
    char-grain complement of ``conv_loss_mask`` (token-grain over packed
    sequences). One conv_id-keyed window shuffle; everything else is a
    narrow projection."""
    header_len = F.length(F.col("role")) + F.lit(4)  # '<|' + role + '|>'
    rendered = F.concat(
        F.lit("<|"), F.col("role"), F.lit("|>"), F.col("text"), F.lit(_RENDER_EOT)
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = tr.select(
        "conv_id",
        "turn_idx",
        "role",
        rendered.alias("rendered"),
        F.length(rendered).alias("rlen"),
        header_len.alias("hlen"),
    )
    char_start = F.coalesce(F.sum("rlen").over(w), F.lit(0)).cast("long")
    return (
        base.select(
            "conv_id",
            "turn_idx",
            "role",
            "rendered",
            char_start.alias("char_start"),
            (char_start + F.col("rlen")).cast("long").alias("char_end"),
            (char_start + F.col("hlen")).cast("long").alias("target_start"),
            (char_start + F.col("rlen") - F.lit(len(_RENDER_EOT)))
            .cast("long")
            .alias("target_end"),
            (F.col("role") == "assistant").alias("is_target"),
        )
        .orderBy("conv_id", "turn_idx")
    )


def q_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chat_render_frame(derived_transcripts(spark, sf_dir))


ORACLE_CHAT_RENDER = f"""
{_CTE}, r AS (
  SELECT conv_id, turn_idx, role,
         '<|' || role || '|>' || text || '{_RENDER_EOT}' AS rendered,
         length('<|' || role || '|>' || text || '{_RENDER_EOT}') AS rlen,
         length(role) + 4 AS hlen
  FROM transcripts
), c AS (
  SELECT conv_id, turn_idx, role, rendered, rlen, hlen,
         cast(coalesce(sum(rlen) OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
              AS char_start
  FROM r
)
SELECT conv_id, turn_idx, role, rendered,
       char_start,
       cast(char_start + rlen AS bigint) AS char_end,
       cast(char_start + hlen AS bigint) AS target_start,
       cast(char_start + rlen - {len(_RENDER_EOT)} AS bigint) AS target_end,
       role = 'assistant' AS is_target
FROM c ORDER BY conv_id, turn_idx
"""


DIALOGUE_QUERIES = {
    "conv_prefix_stats": (q_conv_prefix_stats, ORACLE_CONV_PREFIX_STATS),
    "conv_branch_dedup": (q_conv_branch_dedup, ORACLE_CONV_BRANCH_DEDUP),
    "conv_merge_roles": (q_conv_merge_roles, ORACLE_CONV_MERGE_ROLES),
    "conv_tail_truncate": (q_conv_tail_truncate, ORACLE_CONV_TAIL_TRUNCATE),
    "turn_boilerplate": (q_turn_boilerplate, ORACLE_TURN_BOILERPLATE),
    "conv_boilerplate_strip": (
        q_conv_boilerplate_strip,
        ORACLE_CONV_BOILERPLATE_STRIP,
    ),
    "best_of_n": (q_best_of_n, ORACLE_BEST_OF_N),
    "preference_pairs": (q_preference_pairs, ORACLE_PREFERENCE_PAIRS),
    "sft_examples": (q_sft_examples, ORACLE_SFT_EXAMPLES),
    "conv_lang_consistency": (
        q_conv_lang_consistency,
        _oracle_conv_lang_consistency(),
    ),
    "conv_decontaminate": (q_conv_decontaminate, ORACLE_CONV_DECONTAMINATE),
    "prompt_safe_split": (q_prompt_safe_split, ORACLE_PROMPT_SAFE_SPLIT),
    "chat_render": (q_chat_render, ORACLE_CHAT_RENDER),
}
