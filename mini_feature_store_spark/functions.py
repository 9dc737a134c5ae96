"""Small reusable column/table helpers (SURVEY.md §2.8 scalar surface)."""

from __future__ import annotations

import datetime as dt

import contextlib
import io
from typing import TYPE_CHECKING

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (captured ``df.explain``) — used by
    tests and plan audits to assert pushdown/pruning/codegen properties."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def strip_initial_plans(plan: str) -> str:
    """Drop embedded ``== Initial Plan ==`` sections from an explain dump.

    An executed ``AdaptiveSparkPlan`` nested inside the plan (an
    ``InMemoryRelation``'s cached child, materialized by a plan-build
    probe) prints BOTH its Final Plan and its pre-AQE Initial Plan, each
    with freshly numbered operators — so a flat node-count over the text
    counts every cached exchange twice even though the Initial copy never
    executes. Tests/audits that pin exchange/scan ceilings should count on
    the stripped text (tree-line syntax ``Exchange (n)``), which reflects
    the operators a run can actually execute.

    The skip boundary is the COLUMN of the ``==`` marker compared with
    each following line's content column (first character past the
    ``space``/``:``/``+``/``-`` tree prefix), not its leading-space
    indent (r16 ADVICE): an ``== Initial Plan ==`` block printed under
    a ``:`` continuation margin (AQE node as a non-last child) has body
    lines whose leading-SPACE indent equals the header's, which a
    spaces-only boundary treats as siblings and silently under-strips.
    In the explain format the block's tree root prints at exactly the
    marker's column and every descendant deeper, while any line after
    the block (parent sibling, detail section) resumes at a shallower
    content column."""

    def content_col(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    out: list[str] = []
    skip_col: int | None = None
    for line in plan.splitlines(keepends=True):
        if skip_col is not None:
            has_content = bool(line.strip(" :+-\r\n"))
            if has_content and content_col(line) < skip_col:
                skip_col = None
            else:
                continue
        marker = line.find("== Initial Plan ==")
        if marker >= 0:
            skip_col = marker
            continue
        out.append(line)
    return "".join(out)


#: Operator-internal caches that legitimately outlive their builder call
#: (the dedup posting lists, DSIR's scored frame, DoReMi's bounded count
#: table, the manifest/funnel shared flag frames): each entry is a frame
#: some returned plan still reads, so the builder cannot unpersist it.
#: ``track_cache``/``release_operator_caches`` give callers a SCOPED
#: teardown (r16 verdict "What's wrong" #3 / ADVICE #1) instead of the
#: global ``spark.catalog.clearCache()`` the bench uses between queries.
_OPERATOR_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """Register an operator-internal persisted frame for scoped release.

    LIFECYCLE CONTRACT (applies to every operator whose docstring points
    here): the frame is persisted WITHIN one operator invocation and
    computed from that invocation's inputs — never reused across
    invocations — but it must stay cached while the returned lazy plan
    is alive, so the operator cannot release it. A long-lived session
    composing many such operators should call
    ``release_operator_caches()`` once the results have been consumed
    (or ``spark.catalog.clearCache()`` for a global reset — what the
    bench harness does between queries).

    The registry holds only frames that are still cached: each call
    drops entries a ``clearCache()``/``unpersist()`` already released,
    and a frame registered twice is kept once."""
    _OPERATOR_CACHES[:] = [d for d in _OPERATOR_CACHES if _is_cached(d)]
    if not any(d is df for d in _OPERATOR_CACHES):
        _OPERATOR_CACHES.append(df)
    return df


def _is_cached(df: DataFrame) -> bool:
    """Whether the session's CacheManager still holds ``df`` (the JVM
    view — ``DataFrame.is_cached`` is a Python flag that a global
    ``clearCache()`` never resets)."""
    try:
        level = df.storageLevel
    except Py4JError:
        return False  # session already stopped
    return level.useMemory or level.useDisk or level.useOffHeap


def release_operator_caches() -> int:
    """Unpersist every tracked operator-internal cache (see
    ``track_cache``). Returns the number of frames released. Safe to
    call at any time — unpersist is idempotent and lazy consumers
    recompute from source (slower, never wrong)."""
    n = len(_OPERATOR_CACHES)
    for df in _OPERATOR_CACHES:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _OPERATOR_CACHES.clear()
    return n


#: Byte budget of a driver-local fast path's collected input: the
#: Arrow buffers ``collect_if_bounded`` may hand back. Each call site's
#: row cap sizes its common case; this bounds the wide-row case a row
#: cap cannot see (65,536 k-means vectors at dim 1536 are ~800 MB of
#: doubles, at dim 16 ~10 MB).
DRIVER_LOCAL_MAX_BYTES = 64 << 20


def collect_if_bounded(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as a driver-side Arrow table when it is provably small,
    else ``None`` — the one dispatch probe of every driver-local fast
    path (k-means, the BPE and unigram trainers, connected components,
    the LM scorers' strategy choice).

    One ``limit(max_rows + 1).toArrow()`` job. More than ``max_rows``
    rows, or Arrow buffers over ``DRIVER_LOCAL_MAX_BYTES``, returns
    ``None`` and the caller takes its distributed path. The transfer is
    capped by rows (Spark has no byte-limited collect), so an oversized
    input costs at most ``max_rows + 1`` discarded rows, never an
    unbounded collect. Each partition's rows arrive contiguous and in
    order."""
    tbl = df.limit(max_rows + 1).toArrow()
    if tbl.num_rows > max_rows or tbl.nbytes > DRIVER_LOCAL_MAX_BYTES:
        return None
    return tbl


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan is under-parallel.

    Compute-heavy projections (shingling, signature hashing, per-pair
    similarity scoring) are CPU-bound, not IO-bound: a small parquet input
    (one row group → one split) or an AQE-coalesced shuffle otherwise pins
    the whole operator to a single core. One cheap round-robin exchange
    before the hot projection buys full-cluster parallelism. No-op when the
    input is already at least ``defaultParallelism``-wide (the 100 TB case,
    where inputs arrive thousands of partitions wide and an extra shuffle
    would be pure cost).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def round_half_up(col, scale: int = 4):
    """Engine-portable fixed-point rounding: ``floor(x·10^scale + 0.5) /
    10^scale``.

    Engine ``round()`` is NOT portable on doubles: Spark routes through
    BigDecimal HALF_UP on the decimal expansion of the double while DuckDB
    rounds in double arithmetic, and the two provably split on
    small-denominator rationals (57/800 → Spark 0.0713, DuckDB 0.0712).
    ``floor`` and IEEE multiply/add are bit-identical on both engines, so
    this form — applied on BOTH sides, the oracle mirror spelled
    ``FLOOR((x)*10000 + 0.5)/10000`` — is deterministic across them.
    Ties round toward +∞ (for the positive ratios/fractions this repo
    rounds, that equals HALF_UP; exact negative halves land one ulp up,
    consistently on both engines).
    """
    p = F.lit(float(10 ** scale))
    return F.floor(col * p + F.lit(0.5)) / p


def round_half_up_py(x: float, scale: int = 4) -> float:
    """Driver-side twin of ``round_half_up`` — the identical
    ``floor(x·10^scale + 0.5)/10^scale`` form in Python floats, for
    bounded-collect trainer artifacts that surface through
    ``createDataFrame`` (same double arithmetic as the JVM, so the two
    paths cannot drift)."""
    import math

    m = float(10 ** scale)
    return math.floor(x * m + 0.5) / m


def melt(
    df: DataFrame,
    id_vars: list[str] | tuple[str, ...],
    value_vars: list[str] | tuple[str, ...] | None = None,
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long reshape (pandas ``melt`` surface) on the native
    ``DataFrame.unpivot`` operator.

    ``unpivot`` is a zero-shuffle generator (each input row fans out to
    ``len(value_vars)`` rows inside the same task), so it composes with a
    downstream groupBy at no extra exchange — the right way to feed
    "one row per (entity, metric)" layouts at 100 TB. When ``value_vars``
    is omitted, every non-id column is melted; mixed numeric widths are
    up-cast to the common type by unpivot itself (it requires a least
    common type — cast beforehand for mixed string/numeric).
    """
    id_vars = list(id_vars)
    if value_vars is None:
        value_vars = [c for c in df.columns if c not in id_vars]
    return df.unpivot(id_vars, list(value_vars), var_name, value_name)


def date_range(
    spark: SparkSession,
    start: str | dt.date,
    end: str | dt.date,
    col_name: str = "day",
) -> DataFrame:
    """One row per day in [start, end] inclusive.

    Idiomatic form of the reference's date-scaffold generator
    (``pipelines/BackfillPipeline.scala:110-115``, which spells it
    ``posexplode(split(space(datediff(end,start)),' '))``): ``sequence()`` +
    ``explode()`` builds the same rows without the string round-trip.
    Tiny (≤ tens of thousands of rows) → always broadcast-joinable.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
        ).alias(col_name)
    )
