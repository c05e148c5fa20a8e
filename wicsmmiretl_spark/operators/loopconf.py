"""Loop kernel for the iterative graph operators (guide §1.2 step 1).

Every loop in ``operators/graph.py`` (alternating-star CC, PageRank/PPR,
HITS, BFS/SSSP, k-core peeling) runs the same skeleton: canonicalize the
edges, materialize them with their count, derive and pin the loop width,
then run rounds that each materialize a small loop-state frame and, where
the loop has a driver-side exit, probe it. This module owns that skeleton:

* :func:`observed_checkpoint` — the one way a round reaches the driver:
  an eager ``localCheckpoint`` whose metrics ride the same job as an
  ``Observation`` (CollectMetrics fires when the checkpoint's internal
  action completes), so a probe is ONE job, never materialize-then-count.
* :func:`loop_entry` — the width rule: the canonical edge frame's observed
  row count → bytes-derived :func:`loop_partitions` → pinned as the
  loop-scoped ``spark.sql.shuffle.partitions`` (so loop-internal
  partial-agg/distinct exchanges plan at the loop width instead of 32
  near-empty reduce tasks per groupBy) and, with a key, as a lazy
  ``repartition(parts, key)`` of the edges (task parallelism only — see
  :func:`loop_entry`).
* :func:`fits_broadcast` — the join-strategy rule: an observed row count
  × row bytes against ``spark.sql.autoBroadcastJoinThreshold`` decides
  a broadcast hint up front, so a small checkpointed side is broadcast
  without AQE first running both sides' shuffle stages (first caller:
  ``dedup.jaccard_pairs``' candidate id set).
* :func:`fixpoint` — the round loop for operators that stop on a repeated
  signature (CC, k-core): step, materialize with the signature, stop when
  it repeats or the state is empty; on an exhausted budget one confirming
  round tells a converged run from an unconverged one, so a run that
  reached its fixpoint on the last budgeted round is never rejected.

Session conf: :func:`loop_scoped` / :func:`loop_materialization_conf`
snapshot ``spark.sql.shuffle.partitions`` and restore it on exit, so loop
bodies pin their width without pairing their own restore.

Why AQE stays on inside loops (r14, interleaved same-session A/B): with
AQE on, each materialization runs one Spark job per Exchange (~40-90 ms
of driver overhead each), and scoping AQE off cut the graph queries' jobs
sharply (53→14, 72→11) — yet was a net LOSS. Checkpointed loop frames
carry no statistics, so statically planned round joins fall back to
sort-merge where AQE's runtime size discovery converts them to broadcasts:
Lloyd-loop operators lost 11-25 %, connected_components ~20 %,
label_propagation and kcore 40-55 %, HITS/PageRank parity. What did win,
independently of AQE, is the discipline this module now owns: the
bytes-derived pinned width, counts riding materializations as
Observations (HITS' norms, PageRank/PPR's N and dangling mass), and
static out-degree carried in the PageRank/PPR state. Under AQE a lazy
checkpoint saves one job at most: building its RDD runs every exchange
and broadcast stage below it at build time and defers only the final
stage, so a round whose scalar the driver needs next is checkpointed
eagerly with that scalar observed rather than probed by a second job.

Thread-safety: the guard mutates the session conf for the duration of
the loop, exactly like the streaming harness's shuffle-partition guard
(streaming/windows.py) — concurrent *other-thread* queries planned in
the window would also plan at the loop width. The engine's entry points
run operators sequentially; document before introducing driver-side
concurrency around these loops.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from typing import Any, Callable, Iterator, TypeVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str) -> Iterator[None]:
    """Set session confs for the duration of the block, then restore the
    previous values (unset keys are restored by unsetting)."""
    prev: dict[str, str | None] = {}
    for key, value in confs.items():
        try:
            prev[key] = spark.conf.get(key)
        except Exception:
            prev[key] = None
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            else:
                spark.conf.set(key, value)


@contextmanager
def loop_materialization_conf(spark: SparkSession) -> Iterator[None]:
    """Conf scope for an iterative operator's loop.

    ``spark.sql.shuffle.partitions`` is snapshotted and restored on exit:
    loop bodies are allowed to call :func:`set_loop_shuffle_partitions`
    once they know their data-derived loop width, without pairing their
    own restore. AQE is left at the session setting (module docstring)."""
    key = "spark.sql.shuffle.partitions"
    with scoped_conf(spark, **{key: spark.conf.get(key)}):
        yield


def set_loop_shuffle_partitions(spark: SparkSession, parts: int) -> None:
    """Pin the partial-agg/distinct exchange width inside a loop to the
    loop's own data-derived partitioning (``loop_partitions``). Only valid
    inside :func:`loop_materialization_conf` (or ``@loop_scoped``), which
    restores the session value on exit. The session-default width is a
    fixed cost per loop round — 32 near-empty reduce tasks per groupBy at
    bench scale (AQE coalesces their read side but still schedules the
    map side wide); with this, every loop exchange matches the explicit
    ``repartition(loop_parts, key)`` width."""
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))


# Shuffle-serialized bytes per edge/state row (two-three longs/doubles plus
# row overhead) — feeds the bytes-based loop width (loop_partitions) and
# the broadcast rule (fits_broadcast).
_EDGE_ROW_BYTES = 32

# Data volume per loop partition (guide §2.2: the ~hundred-MB range).
_PARTITION_BYTES = 64 << 20


def byte_partitions(n_rows: int, bytes_per_row: int = _EDGE_ROW_BYTES) -> int:
    """Partitions that hold ``n_rows`` rows at ``_PARTITION_BYTES`` each
    (at least 1), with no parallelism floor: the width of
    ``connected_components``' per-partition contraction, where fewer,
    fuller partitions contract more of the graph."""
    return max(1, -(-n_rows * bytes_per_row // _PARTITION_BYTES))


def loop_partitions(n_rows: int, bytes_per_row: int, session_parts: int) -> int:
    """Loop shuffle width from estimated DATA VOLUME (guide §2.2: shuffle
    partitions in the ~hundred-MB range), capped at the session width.

    The r8-r13 row-count sizing (``rows // 65_536 + 1``) produced ~1-2 MB
    partitions for long-pair edge lists — two orders of magnitude under
    the guide's floor; AQE's coalescing silently repaired it at the cost
    of one stage-job per exchange. Sizing by bytes keeps single-digit
    partition counts at bench scale and grows linearly to the session cap
    at cluster scale.

    A parallelism floor of min(session_parts, 8) guards the other edge:
    loop rounds are CPU-bound (window sorts, hash dedup) long before
    their shuffle bytes reach the 64 MB target, and a width-1 round
    serializes that compute onto one core (measured r14: width-1 CC
    rounds 0.8-1.4 s vs 0.55-0.67 s at width 4-8 on the same data; width
    32 is 2.2 s — per-task overhead). The floor is inert at cluster
    scale, where the bytes term dominates.
    """
    if n_rows <= 0:
        return 1
    by_bytes = byte_partitions(n_rows, bytes_per_row)
    return max(1, min(session_parts, max(by_bytes, min(session_parts, 8))))


def fits_broadcast(spark: SparkSession, n_rows: int, bytes_per_row: int = _EDGE_ROW_BYTES) -> bool:
    """Broadcast or shuffle, decided from a row count a checkpoint has
    already observed: ``n_rows × bytes_per_row`` within
    ``spark.sql.autoBroadcastJoinThreshold`` (``-1`` disables broadcasts).

    AQE picks a broadcast only after both sides' shuffle stages have run,
    and a checkpointed frame carries no size statistics for the static
    planner, so a caller that knows its small side's row count hints the
    broadcast up front; past the threshold it keeps the shuffle join."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return n_rows * bytes_per_row <= threshold


def loop_scoped(fn: Callable[..., T]) -> Callable[..., T]:
    """Run an iterative operator under :func:`loop_materialization_conf`.

    The session is taken from the first ``DataFrame`` argument. The scope
    covers the CALL only — i.e. the loop's internal materializations
    (eager checkpoints, fixpoint probes, ``df.rdd`` of lazy checkpoints)
    plan at the pinned loop width. Whatever plan tail the operator
    RETURNS un-materialized is physically planned later, at the consuming
    action, under the caller's own conf."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        df = next(
            (a for a in [*args, *kwargs.values()] if isinstance(a, DataFrame)), None
        )
        if df is None:
            return fn(*args, **kwargs)
        with loop_materialization_conf(df.sparkSession):
            return fn(*args, **kwargs)

    return wrapper


def row_count() -> Column:
    """The row-count metric ``n`` every loop entry and fixpoint probe observes."""
    return F.count(F.lit(1)).alias("n")


def observed_checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict[str, Any]]:
    """Materialize ``df`` (eager ``localCheckpoint``) and return it with
    its observed ``metrics`` — one Spark job for both."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def loop_entry(
    edges: DataFrame, key: str | None, *metrics: Column, pin_shuffle: bool = True
) -> tuple[DataFrame, int, dict[str, Any]]:
    """Loop entry for a canonical edge frame: materialize it observing its
    row count ``n`` (plus ``metrics``), derive the loop width from that
    count, and pin it.

    Returns ``(edges, loop_parts, metrics_row)``. ``edges`` is the eager
    checkpoint, or with ``key`` a lazy ``repartition(loop_parts, key)``
    pin of it. The pin buys task parallelism (``loop_parts`` tasks per
    scan of the edges), not exchange elision: a checkpoint — lazy, eager
    or observed — reports ``UnknownPartitioning`` (PySpark 4.1, AQE on),
    so a join or aggregate on ``key`` downstream still plans its own
    exchange (a join of two pinned frames plans two). Nor is it free:
    under AQE the lazy checkpoint runs its exchange at build time, one
    job. ``pin_shuffle`` also pins the width as the session shuffle
    width; it requires the caller to run under :func:`loop_scoped`, which
    restores it."""
    e0, m = observed_checkpoint(edges, row_count(), *metrics)
    spark = edges.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = loop_partitions(m["n"], _EDGE_ROW_BYTES, session_parts)
    if pin_shuffle:
        set_loop_shuffle_partitions(spark, parts)
    if key is not None:
        e0 = e0.repartition(parts, key).localCheckpoint(eager=False)
    return e0, parts, m


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    start: dict[str, Any],
    max_rounds: int,
    *metrics: Column,
    error: str,
    batch: int = 1,
) -> DataFrame:
    """Apply ``step`` until the state's signature — its row count ``n``
    plus ``metrics``, observed on each probe's checkpoint — repeats, or
    the state is empty (every caller's step maps an empty state to
    itself). ``start`` is the signature of ``state``.

    ``batch`` steps run per probe (fewer probes, up to ``batch - 1``
    no-op steps past the fixpoint); only sound for a monotone step, where
    an unchanged signature across a batch means its first step already
    changed nothing. ``max_rounds`` counts steps. When it runs out, one
    confirming step tells a converged run (returned) from an unconverged
    one (``RuntimeError(error)``)."""
    prev, done = start, 0
    while prev["n"] > 0:
        n = min(batch, max_rounds - done) or 1  # 1 = the confirming step
        nxt = state
        for _ in range(n):
            nxt = step(nxt)
        state, cur = observed_checkpoint(nxt, row_count(), *metrics)
        if cur == prev:
            break
        if done >= max_rounds:
            raise RuntimeError(error)
        done += n
        prev = cur
    return state
