"""Cost router: every size-based plan choice, and the session-width sizing.

Two kinds of decision live here, each made from statistics the engine
already has:

- **Arrow kernel or SQL expression.** One predicate per twin that a
  4-core A/B measured faster than its expression on some corpus
  (SCALE.md, "4-core twin A/B"): `gemm_for_assignment` for the
  k-means/PQ argmin, from Catalyst's row estimate (zero Spark jobs), and
  `gemm_for_pair_scoring` for the near-dup pair scorers, from the
  candidate-pair density their own statistics pass measured. Both
  branches of each twin give identical results (pinned by the parity
  tests), so a decision changes the plan, never the answer. Unknown
  statistics route to the expression, whose fixed cost is zero: a
  10-row createDataFrame corpus must never pay the Arrow boundary.
- **Session shuffle width.** The verdict dedup and the stateful
  streaming operators widen ``spark.sql.shuffle.partitions`` only past a
  measured bind. One size/restore pair with one recorded baseline serves
  both, so sizing one kind never reads another kind's width as its
  default.

Every constant was measured at local[32] (SCALE.md, rounds 6-14) and
has not been re-calibrated for 4 cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Row estimate
# ---------------------------------------------------------------------------

# On-disk bytes per embedding row, calibrated on the 64-dim float test
# corpus (sf0.1: 798 KB / 2000 rows ≈ 400 B).  Routing only needs the
# right order of magnitude: both branches produce identical results, so
# an estimate near the crossover can only shift the plan, never the
# result (and at the crossover the two plans cost the same by
# definition).  A corpus that compresses far better misreads: the 10x
# amplified corpus (tools/amplify.py) stores ~57 B/row because 63 of
# its 64 dims repeat across replicas, so its estimate is ~7x low.
_EST_BYTES_PER_ROW = 400

# Catalyst's "statistics unavailable" sentinel: non-file-backed plans
# (LogicalRDD / createDataFrame, and a mapInPandas over one) report
# sizeInBytes = Long.MaxValue, which is "unknown", not "huge".  A
# mapInPandas over a file scan carries the scan's estimate.
_STATS_UNKNOWN_SIZE = (1 << 63) - 1


def estimated_rows(df: DataFrame) -> "int | None":
    """Catalyst's row estimate for the frame — ZERO Spark jobs.  The
    optimized plan's rowCount when the optimizer derived one, else
    sizeInBytes / _EST_BYTES_PER_ROW, else None for unknown statistics
    (the Long.MaxValue no-estimate sentinel on non-file-backed plans,
    or no `_jdf` under Spark Connect).

    This is the mechanism behind the broadcast-join threshold: a
    cost-based plan choice should come from plan costs, not from running
    a counting job whose price at 100 TB would dwarf the savings it
    arbitrates."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        row_count = stats.rowCount()
        if row_count.isDefined():
            # py4j renders scala.math.BigInt as a Python int when it fits;
            # str() round-trip covers both that and the raw JavaObject.
            return int(str(row_count.get()))
        size = int(str(stats.sizeInBytes()))
    except Exception:  # no _jdf (Spark Connect) or plan-stats API drift
        return None
    if size >= _STATS_UNKNOWN_SIZE:
        return None
    return max(size // _EST_BYTES_PER_ROW, 1)


# ---------------------------------------------------------------------------
# Arrow kernel or SQL expression
# ---------------------------------------------------------------------------

# Argmin assignment (k-means, PQ encode): route through the Arrow/numpy
# GEMM kernel instead of the interpreted HOF folds
# (r14 optimization pass, guide §4.2).  Two conditions, both required:
#
# - work per row (e.g. k*dim interpreted lambda steps) must be worth a
#   numpy matmul element — below _GEMM_ASSIGN_MIN_FOLD the expression
#   wins at any corpus size;
# - the TOTAL interpreted work (estimated rows x steps/row) must beat
#   the Arrow boundary's fixed cost (worker roundtrip, batch
#   transpose).  Measured points (k=10, dim=64): the fit at 2k rows
#   (1.3M steps/iteration) reads expr 3.1 s vs GEMM 3.3 s — below
#   crossover; pq encode at 2k rows (2.0M steps) reads expr 0.96 s vs
#   GEMM 0.79 s — above; the fit at 32k rows (20M steps) 8.1 vs 3.3
#   (GEMM 2.5x) and at 128k rows 22.7 vs 4.3 (GEMM 5.3x).  2M total
#   steps splits the measured points.
_GEMM_ASSIGN_MIN_FOLD = 256
_GEMM_ASSIGN_MIN_TOTAL_STEPS = 2_000_000

# Near-dup pair scoring (banded LSH and semantic dedup): candidate pairs
# per vector at which the within-bucket GEMM beats the expression pair
# join.  The round-6 probe (SCALE.md; 8 bands x 10 planes, max_bucket
# 500) measured densities of 10.2 at 1x amplification, 52.9 at 4x and
# 223.7 at 16x, with the timing crossover at ~4x: expression 5.9 vs
# GEMM 10.2 s at 1x, 19.7 vs 6.3 s at 16x.
_GEMM_PAIR_MIN_DENSITY = 50.0


def gemm_for_assignment(df: DataFrame, work_per_row: int) -> bool:
    """True when the Arrow/numpy argmin kernel pays for its boundary on
    `df`: `work_per_row` interpreted steps per row of at least
    _GEMM_ASSIGN_MIN_FOLD, and an estimated total of at least
    _GEMM_ASSIGN_MIN_TOTAL_STEPS."""
    if work_per_row < _GEMM_ASSIGN_MIN_FOLD:
        return False
    est = estimated_rows(df)
    return est is not None and est * work_per_row >= _GEMM_ASSIGN_MIN_TOTAL_STEPS


def gemm_for_pair_scoring(density: float) -> bool:
    """True when the candidate-pair mass per vector is dense enough for
    the within-bucket GEMM scorer to beat the expression pair join."""
    return density >= _GEMM_PAIR_MIN_DENSITY


# ---------------------------------------------------------------------------
# Session shuffle width
# ---------------------------------------------------------------------------

# 128 is the widest setting any probe has validated, for dedup and for
# streaming state stores alike.  Past it the honest remedy is more
# executors, each bringing its own heap and disks, not more partitions.
_MAX_WIDTH = 128

# Verdict dedup (SCALE.md, r10 sixth octave + r11 seventh octave + r12
# 64g crossover sweep, eight attributed points):
# - Bind onset: clean sessions through ~64k docs/heap-GiB (2.048M @
#   48g and 4.096M @ 100g at ~41-43k, exponent ~1.07; 4.096M @ 64g at
#   64k, exponent 1.04 — the r12 sweep); GC-bound sessions at ~82-85k/
#   GiB (4.096M @ 48g exponent 2.54, 8.192M @ 100g exponent 1.54).
#   The onset therefore sits in (64k, 82k]/GiB; 72k splits the bracket
#   with margin on both measured sides. (The r11 value of 48k was
#   conservative-early — and the r12 sweep showed early is NOT safe:
#   widening at the clean 64k-ratio point cost 2.3x, see below.)
# - The width remedy is BIND-POINT-LOCAL (r11's key negative result,
#   sharpened by r12): it helps ONLY at an actual GC bind. At the 48g
#   bind, widening fixed it: 32 parts 259.8s, 128 parts 146.0s, 256
#   parts 200.2s (optimum ~32k docs/task). At the 100g cache-overflow
#   bind the SAME sweep is monotonically worse: 386.5/468.0/567.4 s at
#   32/128/256 — the ~60 GiB gram cache outgrows the storage-safe
#   fraction and width only adds churn. And at a CLEAN point (4.096M @
#   64g, r12) widening is pure cost: 93.6 s at 32 parts vs 213.1 s at
#   128. Widening is therefore applied only past the measured onset on
#   executor-class heaps (<= 64 GiB, cap 128); past the cache cliff
#   the honest remedy is more executors, not width.
_DEDUP_HEAP_DOCS_PER_GIB = 72_000
_DEDUP_DOCS_PER_TASK = 32_000
_DEDUP_WIDEN_MAX_HEAP_GIB = 64  # widening validated at 48g; harmful at 100g

# Stateful streaming (the r12 4096x probe and the r13 cross-operator
# validation, SCALE.md): state shards one RocksDB store per shuffle
# partition, and whether more stores help is a property of the
# OPERATOR's state access pattern, not of state volume alone.  Measured
# points (RocksDB default, one local JVM, identical inputs):
#
# - stream-stream interval join, 40.9M state rows / 32 stores
#   (~1.28M/store): exponent 0.79, throughput rising (comfortable);
# - the same join at 163.6M / 32 (~5.11M/store): super-linear (813.8 s)
#   — RocksDB write-amplification/compaction depth per store — and the
#   ONE-KNOB rerun at 128 stores (same rows, ~1.28M/store): 423.6 s,
#   1.9x faster, the highest join throughput measured in the series;
# - session windows at 97.8M / 32 (~3.05M/store): NOT bound — wall is
#   exactly linear in input (exponent 1.00 across 256x -> 1024x) — and
#   the r13 one-knob rerun at 128 stores (~0.76M/store) is 1.6x SLOWER
#   (274.8 -> 434.3 s clean-machine pair; a first contaminated reading
#   said 2.0x), because per-store overhead (commit/compaction per store
#   per micro-batch, 4x tasks over 32 cores) is pure cost when the
#   operator is not compaction-bound;
# - dedup at 409.6M / 32 (~12.8M/store): exponent 0.89, SUB-linear —
#   not bound either at 6x the join's bind density.
#
# So "state rows per store" binds ONLY where a bind has been measured —
# the two-sided join state whose per-key multi-row range scans deepen
# with compaction.  Kinds without a measured bind keep the session
# default.  On a cluster the same arithmetic applies per executor share.
#
#: operator kind -> (rows-per-store onset, rows-per-store width target),
#: or None when no bind has been measured for that kind.
_STREAM_REGIMES: dict[str, tuple[int, int] | None] = {
    # bind measured at ~5.1M/store, clean at ~1.3M; onset splits the
    # bracket with margin on both sides
    "stream_stream_join": (2_000_000, 1_300_000),
    # linear (not bound) at 3.05M/store; 128-store rerun 1.6x slower
    "session_window": None,
    # sub-linear at 12.8M/store on RocksDB (the r12 4096x point)
    "dedup": None,
    # state is open windows — scale-invariant by construction
    "windowed_agg": None,
    # applyInPandasWithState: bounded per-key state, no measured bind
    "custom_keyed_state": None,
}

#: `size_session` kind for the batch verdict dedup (the stream kinds
#: are the keys of _STREAM_REGIMES)
MINHASH_DEDUP = "minhash_dedup"


def _widen(rows: int, rows_per_partition: int, default_partitions: int) -> int:
    """The next power of two giving at most `rows_per_partition` rows
    per partition, capped at _MAX_WIDTH and never below the default.
    The power-of-two snap keeps AQE coalescing friendly and the choice
    stable under small estimate drift."""
    want = -(-rows // rows_per_partition)
    width = 1 << (want - 1).bit_length()
    return max(default_partitions, min(width, _MAX_WIDTH))


def suggest_dedup_shuffle_partitions(
    n_docs: int,
    heap_gib: float,
    default_partitions: int,
) -> int:
    """Shuffle-partition width for the minhash verdict path.

    Returns ``default_partitions`` while the per-JVM document count
    sits below the measured GC-bind ratio (72k docs/heap-GiB). Past it,
    on executor-class heaps (<= 64 GiB) it widens to the next power of
    two landing ~32k docs per task, capped at 128 — the 146.0s winner
    of the 8192x/48g one-knob sweep. On larger single-JVM heaps past
    the ratio it deliberately returns the default: the r11 seventh
    octave measured every wider setting as strictly worse there,
    because the bind is the cache outgrowing the heap, which width
    cannot fix. On a real cluster ``heap_gib`` is the per-EXECUTOR heap
    and ``n_docs`` the per-executor document share — executors scale
    with data, so the suggestion stays bounded.
    """
    if n_docs <= 0 or heap_gib <= 0 or default_partitions <= 0:
        raise ValueError("n_docs, heap_gib and default_partitions must be positive")
    if n_docs <= _DEDUP_HEAP_DOCS_PER_GIB * heap_gib:
        return default_partitions
    if heap_gib > _DEDUP_WIDEN_MAX_HEAP_GIB:
        return default_partitions  # measured: width only hurts here
    return _widen(n_docs, _DEDUP_DOCS_PER_TASK, default_partitions)


def suggest_stream_shuffle_partitions(
    state_rows_estimate: int,
    default_partitions: int,
    operator: str = "stream_stream_join",
) -> int:
    """Shuffle width (= state store count) for a stateful streaming
    query, from an estimate of peak state rows and the operator kind.

    For kinds with a measured per-store bind (today: the stream-stream
    join), returns ``default_partitions`` while per-store state sits
    below the measured onset; past it, the next power of two landing
    the measured-good density per store, capped at 128 and never below
    the default.  Kinds with NO measured bind (sessions, dedup,
    windowed aggs, custom keyed state) get the default.  Estimate peak
    state rows from the operator's documented invariant: open windows
    for windowed aggs, users x sessions for session windows, events
    within the watermark horizon for dedup, both sides' horizon rows
    for stream-stream joins.
    """
    if state_rows_estimate < 0 or default_partitions <= 0:
        raise ValueError("state_rows_estimate must be >= 0 and default_partitions > 0")
    if operator not in _STREAM_REGIMES:
        raise ValueError(
            f"unknown operator kind {operator!r}; known: {sorted(_STREAM_REGIMES)}"
        )
    regime = _STREAM_REGIMES[operator]
    if regime is None:
        return default_partitions
    onset, target = regime
    if state_rows_estimate <= onset * default_partitions:
        return default_partitions
    return _widen(state_rows_estimate, target, default_partitions)


def jvm_heap_gib(spark) -> float:
    """Best-effort JVM heap for the dedup sizing: the driver memory in
    local mode (one JVM holds everything there), else executor memory.
    Defaults to Spark's own 1g when neither conf is set.

    Parses the full Spark byte-string grammar (JavaUtils.byteStringAs):
    optional one-letter prefix with optional trailing 'b' ('48g' ==
    '48gb'), bare 'b' for bytes, and a BARE NUMBER meaning MiB — the
    default unit Spark itself applies to memory confs."""
    import re

    master = spark.conf.get("spark.master", "")
    key = "spark.driver.memory" if master.startswith("local") else "spark.executor.memory"
    raw = spark.conf.get(key, "1g").strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]?b?)", raw)
    if not m:
        raise ValueError(f"unparseable Spark memory string {raw!r} for {key}")
    num, suffix = int(m.group(1)), m.group(2)
    gib_per_unit = {
        "": 1 / 1024,  # bare number: MiB (Spark's memory-conf default unit)
        "b": 1 / (1024**3),
        "k": 1 / (1024**2),
        "kb": 1 / (1024**2),
        "m": 1 / 1024,
        "mb": 1 / 1024,
        "g": 1.0,
        "gb": 1.0,
        "t": 1024.0,
        "tb": 1024.0,
    }
    return num * gib_per_unit[suffix]


# Remembers the session's shuffle width from BEFORE the first sizing
# call.  Without it repeated calls ratchet: once a large run widens to
# 128, a later small call would read 128 back as the "default" and
# never narrow again (the SCALE_PROBE_AUTO_PARTS loop in
# tools/scale_probe.py hits exactly that across reps).  _LAST_SET_KEY
# records what sizing itself last wrote: when the live conf differs,
# the USER changed the width since — their value becomes the new
# baseline instead of being silently clobbered by a stale one.
_BASELINE_KEY = "spark.tagmarshal.baselineShufflePartitions"
_LAST_SET_KEY = "spark.tagmarshal.lastSetShufflePartitions"


def size_session(spark, operator: str, rows: int) -> int:
    """Set ``spark.sql.shuffle.partitions`` for one operator from its
    estimated size, and return the width set (the baseline when no bind
    is measured or the estimate is comfortable, so calling it is always
    safe).

    ``operator`` is MINHASH_DEDUP, with ``rows`` the per-JVM document
    count, or a stateful streaming kind (a key of _STREAM_REGIMES), with
    ``rows`` the estimated peak state rows.

    Shuffle width is a session conf in Spark, not a per-plan hint, so
    the width must be in force when the plan runs: for the dedup, until
    the returned lazy frame executes; for a stream, when the query
    STARTS — the width fixes the state store count and is pinned into
    the checkpoint, so a conf change after ``.start()`` does nothing.

    The pre-sizing width is recorded once and every call sizes from it,
    whichever operator kind set the current width, so a small estimate
    after a widened run narrows back instead of ratcheting.  A width
    the USER sets between sizing calls is adopted as the new baseline
    (the recorded last-set value distinguishes our own write from
    theirs).  One blind spot, by construction: a user width EQUAL to
    the last value sizing wrote is indistinguishable from our own write
    — Spark conf records values, not who set them.  To set such a
    width, call :func:`restore_session_width` FIRST; the next sizing
    call then captures yours."""
    current = spark.conf.get("spark.sql.shuffle.partitions")
    baseline = spark.conf.get(_BASELINE_KEY, None)
    if baseline is None or current != spark.conf.get(_LAST_SET_KEY, None):
        baseline = current  # first call, or user-changed width: re-capture
        spark.conf.set(_BASELINE_KEY, baseline)
    if operator == MINHASH_DEDUP:
        width = suggest_dedup_shuffle_partitions(rows, jvm_heap_gib(spark), int(baseline))
    else:
        width = suggest_stream_shuffle_partitions(rows, int(baseline), operator)
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    spark.conf.set(_LAST_SET_KEY, str(width))
    return width


def restore_session_width(spark) -> int | None:
    """Put ``spark.sql.shuffle.partitions`` back to its pre-sizing
    baseline (no-op if sizing never ran) and clear the recorded
    baseline, so the next sizing call captures the then-current width
    afresh.  Call it only once the sized plan has run: after the dedup
    frame has executed, or after the stream has started (its width is
    checkpointed, so later batch work can narrow back without touching
    it).  Returns the restored width, or None if untouched."""
    baseline = spark.conf.get(_BASELINE_KEY, None)
    if baseline is None:
        return None
    spark.conf.set("spark.sql.shuffle.partitions", baseline)
    spark.conf.unset(_BASELINE_KEY)
    spark.conf.unset(_LAST_SET_KEY)
    return int(baseline)
