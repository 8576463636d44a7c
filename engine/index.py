"""Candidate-index builder — CESID's offline index, recast relationally.

Reference: per-column MinHash-LSH-Ensemble + HNSW profile index built by
forked processes over CSV chunks and pickled
(``codes/search/construct_index.py:87-125, 386-416, 445-492``), keyed
``"{tab} || {col} || {col_id}"``. Online, a missing cell's context is probed
against it and candidate values are scored and summed
(``codes/search/retrieve_relevant_values.py:88-102, 104-231``).

Here the index is a plain DataFrame/Parquet table

    (key: long, candidate, score, rank)

built in ONE Spark job (the bash fan-out/merge choreography is just a shuffle)
and consumed with an equi-join on ``key``. ``key`` is
``xxhash64(family, context components...)``: the family literal takes the
place of the reference's ``{col}`` part, so one long column addresses every
(column, context) pair. Keys are deterministic context signatures (the
analog of CESID's tuple-similarity search: a value is recoverable because
*related conversations share content*, like related tables in the reference's
lake):

- role: (turn_idx mod 12, prev_role, next_role)   — role cycles are periodic
- tool: sig(text)                                  — same turn in a related
  conversation has the same text and the same tool
- text: (turn_idx mod 12, sig(prev_text), sig(next_text)) — neighbors pin
  the slot

Scale design — raw text NEVER rides a wide shuffle here: the context window
and the index aggregation carry 8-byte ``xxhash64(text)`` sigs; text-family
*candidates* ARE the sigs (cast to string), and the winning text is fetched
afterwards by an O(worklist) sig-keyed join against the table
(engine.merge). Every wide stage groups, compares and shuffles fixed-width
longs, and the pair aggregation stays a pure-count HashAggregate (see
_scored_pairs).

Collision trade: two context keys (or two texts) colliding in 64 bits merge
their candidate counts (or swap one imputed text) — ~1e-6 at 1e6 distinct
values, and the blast radius is one heuristically-imputed cell, never table
integrity — the same class of trade ``changes_between`` documents for its
row-hash CDC diff.

Scoring = support count summed per (key, candidate) (reference A1,
``retrieve_relevant_values.py:88-102``). Top-1 (the merge path, k=1) is a
second partial-aggregated ``min(struct(-score, candidate))`` — no window
sort, scales at the hardware ceiling. Top-k (k>1, the offline-index API)
falls back to ``row_number`` (reference W1 heap,
``codes/utils/match_row.py:83-126`` — bound-pruning dropped: vectorized
scoring beats branchy pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOPK = 3  # reference keeps top-3 similar tuples (retrieve_relevant_values.py:202)


def _with_context(df: DataFrame, extra: dict | None = None) -> DataFrame:
    """Lean per-conversation context under stable (conv_id, turn_idx)
    ordering: the text sig is computed BEFORE the window (narrow), so the
    window shuffle — the single widest exchange of the merge pass — carries
    a fixed-width sig per row instead of the raw text payload. ONE window
    sort produces every context column (all functions share the frame →
    single Window exec). Window partitions are bounded by conversation
    length (≤ ~1e5 turns even for hot conversations); AQE splits oversized
    partitions.

    Output columns: conv_id, turn_idx, role, tool, text_sig (null ⇔
    text null), prev_role, next_role, prev_text_sig, next_text_sig.

    The sig is a null-guarded ``xxhash64(text)`` LONG: 8 B per sig on the
    window exchange, and every downstream consumer (key hashing, index
    candidates, the sig-keyed text fetch) stays fixed-width. xxhash64 SKIPS
    null args (it would alias null text onto the seed hash), hence the
    explicit null guard preserving "sig IS NULL ⇔ text IS NULL".

    Callers that consume the context more than once (index build + update
    plan) should persist the result: Catalyst does NOT share a common
    subtree across union/join branches.

    ``extra`` columns (e.g. the clustering curve key for a fused merge)
    ride the same pass — computed narrow, before the window — so a
    consumer needing them pays no extra table scan."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    sig = F.when(F.col("text").isNotNull(), F.xxhash64("text"))
    cols = [F.col("conv_id"), F.col("turn_idx"), F.col("role"),
            F.col("tool"), sig.alias("text_sig")]
    for name, col in (extra or {}).items():
        cols.append(col.alias(name))
    sigs = df.select(*cols)
    return (sigs
            .withColumn("prev_role", F.lag("role").over(w))
            .withColumn("next_role", F.lead("role").over(w))
            .withColumn("prev_text_sig", F.lag("text_sig").over(w))
            .withColumn("next_text_sig", F.lead("text_sig").over(w)))


def key_families():
    """Per-family (64-bit key, candidate) pairs over a context frame. The
    key is hashed DIRECTLY from the context components —
    ``xxhash64(family, comp...)`` — so no composite key string is ever
    built. The family literal disambiguates families, coalesce sentinels
    preserve the null-neighbor classes, and components are fixed-width
    longs or a closed role vocabulary (no concatenation aliasing).

    The 'role_text' family pins role by the row's own text — tuple
    similarity on a second mapped column, like the reference probing every
    related column (retrieve_relevant_tables.py:430-474). The single-
    neighbor text families are robust when the other neighbor's text was
    itself injected (the reference's fuzzy column mapping plays the same
    degrade-gracefully role, retrieve_relevant_tables.py:489-516).
    Text-family candidates are the long sig cast to string (uniform
    candidate type across the explode) — identity for support counting;
    the winner's payload is fetched later by a sig-keyed join
    (engine.merge), which casts identically."""
    text_ok = F.col("text_sig").isNotNull()
    turn_mod = F.pmod(F.col("turn_idx"), F.lit(12))
    pr = F.coalesce(F.col("prev_role"), F.lit("^"))
    nr = F.coalesce(F.col("next_role"), F.lit("$"))
    # -1 = no-neighbor sentinel for long sigs (a real sig colliding with
    # it merges that boundary class — same e-19/key odds as the hash)
    ps = F.coalesce(F.col("prev_text_sig"), F.lit(-1))
    ns = F.coalesce(F.col("next_text_sig"), F.lit(-1))
    ts = F.col("text_sig").cast("string")
    return {
        "role": (F.xxhash64(F.lit("role"), turn_mod, pr, nr),
                 F.col("role")),
        "role_text": (F.when(text_ok, F.xxhash64(F.lit("role_text"),
                                                 F.col("text_sig"))),
                      F.when(text_ok, F.col("role"))),
        "tool": (F.when(text_ok, F.xxhash64(F.lit("tool"),
                                            F.col("text_sig"))),
                 F.when(text_ok, F.col("tool"))),
        "text": (F.xxhash64(F.lit("text"), turn_mod, ps, ns), ts),
        "text_prev": (F.xxhash64(F.lit("text_prev"), turn_mod, ps), ts),
        "text_next": (F.xxhash64(F.lit("text_next"), turn_mod, ns), ts),
        # the estimation fallback as two more families (global per-slot mode —
        # the reference's mean/mode initial guess, row_acquisitor.py:545-548)
        # so they ride the SAME explode/agg/top-k instead of dedicated
        # pipelines + broadcasts
        "role_fb": (F.xxhash64(F.lit("role_fb"), turn_mod), F.col("role")),
        "tool_fb": (F.xxhash64(F.lit("tool_fb"), turn_mod), F.col("tool")),
    }


def _scored_pairs(ctx: DataFrame) -> DataFrame:
    """(key, candidate) support counts. All key families are emitted by a
    SINGLE explode over one context pass (a per-family union would re-run
    the window pipeline per branch — Catalyst has no cross-branch subtree
    reuse); map-side partial aggregation collapses the exploded pairs
    before the shuffle. The keys are already component-hashed longs
    (key_families), so the exploded rows are fixed-width (long,
    short-string) pairs with no post-explode projection.

    Deliberately COUNT-ONLY: any string/struct-typed aggregate buffer (e.g.
    a min(donor-pointer)) is not HashAggregate-compatible, and the fallback
    SortAggregate sorts the full exploded pair set — measured as +2.5× on
    this, the widest aggregation of the merge pass. Payload recovery happens
    downstream by sig-keyed fetch (engine.merge), never here."""
    fams = F.array(*[
        F.struct(key.alias("key"), cand.alias("candidate"))
        for key, cand in key_families().values()])
    return (ctx.select(F.explode(fams).alias("f"))
            .select("f.key", "f.candidate")
            .filter(F.col("candidate").isNotNull() & F.col("key").isNotNull())
            .groupBy("key", "candidate")
            .agg(F.count(F.lit(1)).cast("double").alias("score")))


def build_candidate_index(df: DataFrame, k: int = TOPK,
                          ctx: DataFrame | None = None) -> DataFrame:
    """One job: context windows → (key, candidate) support counts → per-key
    top-k, as ``(key: long, candidate, score, rank)``.

    ``k=1`` (the merge-pass mode) selects the winner with a second partial
    aggregation ``min(struct(-score, candidate))`` — deterministic
    (desc score, asc candidate) with NO window sort; it scales measurably
    better than the window at low parallelism (no sort, map-side combine on
    both aggs). ``k>1`` keeps the ``row_number`` window (offline-index API)
    under the same ordering, so its rank-1 rows equal the ``k=1`` output.

    Pass the shared, persisted ``ctx`` when the caller also plans the probe
    from it; otherwise the context is derived from ``df``."""
    if ctx is None:
        ctx = _with_context(df)
    scored = _scored_pairs(ctx)
    if k == 1:
        # SortAggregate here is fine: the input is the already-aggregated
        # pair set (orders of magnitude smaller than the explode)
        best = F.struct((-F.col("score")).alias("ns"),
                        F.col("candidate").alias("candidate"))
        return (scored.groupBy("key")
                .agg(F.min(best).alias("m"))
                .select("key",
                        F.col("m.candidate").alias("candidate"),
                        (-F.col("m.ns")).alias("score"),
                        F.lit(1).alias("rank")))
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("candidate"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("key", "candidate", "score", "rank"))
