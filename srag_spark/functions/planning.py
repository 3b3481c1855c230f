"""Plan hygiene and the cache lifecycle — the one module that persists.

Cache lifecycle.  Every cached relation in ``srag_spark`` goes through
:func:`persist`, which registers it in a *ledger* (a plain list) that
its owner releases: ``with held() as h: df = persist(df, h)`` releases
on exit, exceptions included.  Without a ledger, repeated calls in a
long-lived session (the resumable pipeline, the engine facade) would
accumulate cached relations for the SparkSession's lifetime.

The ``persisted=`` contract, the same on every operator that takes it
(implemented once, by :func:`owns_ledger`):

* a list: the operator registers what it persists there and returns a
  LAZY frame; the caller consumes it, then calls :func:`release` on the
  list (or passes the ledger of a :func:`held` block);
* ``None``: the operator uses a local ledger, materializes its result
  with an eager ``localCheckpoint`` when it persisted anything, and
  releases the ledger before returning — nothing stays cached.  This
  pins every output row executor-side, so it suits tests and
  driver-scale inputs; at corpus scale pass a list.

Concurrent jobs.  :func:`in_threads` is the one way a caller submits
independent Spark jobs from threads: each thread keeps the caller's job
group, description and tags.

Plan hygiene.  :func:`bind_col`, :func:`no_pushdown`, :func:`nondet_col`
and :func:`spread_input` are the expression and partitioning devices
the operators share (evaluation-count, pushdown and input-skew fixes
that change no value).
"""

from __future__ import annotations

import inspect
import logging
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import wraps

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# cache lifecycle
# ---------------------------------------------------------------------------
def persist(
    df: DataFrame,
    ledger: list,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """Persist ``df`` at ``level`` (``DataFrame.persist``'s default) and
    register it in ``ledger`` for :func:`release`."""
    out = df.persist(level)
    ledger.append(out)
    return out


def release(ledger: list) -> None:
    """Unpersist every DataFrame registered in ``ledger`` and empty it;
    call after the consuming action."""
    for df in ledger:
        df.unpersist()
    ledger.clear()


@contextmanager
def held() -> Iterator[list]:
    """A ledger released when the block exits, however it exits."""
    ledger: list = []
    try:
        yield ledger
    finally:
        release(ledger)


def owns_ledger(op):
    """Give an operator's ``persisted=`` parameter the module's contract:
    a list passes through untouched (lazy result, caller releases); with
    ``None`` the operator runs against a local ledger, its result is
    checkpointed eagerly if anything was persisted, and the ledger is
    released before the result is returned."""
    sig = inspect.signature(op)

    @wraps(op)
    def run(*args, **kwargs):
        call = sig.bind(*args, **kwargs)
        if call.arguments.get("persisted") is not None:
            return op(*args, **kwargs)
        with held() as ledger:
            call.arguments["persisted"] = ledger
            out = op(*call.args, **call.kwargs)
            return out.localCheckpoint(eager=True) if ledger else out

    return run


# ---------------------------------------------------------------------------
# concurrent jobs
# ---------------------------------------------------------------------------
def in_threads(spark: SparkSession, calls: Sequence[Callable[[], object]]) -> list:
    """Run each of ``calls`` on its own thread and return their results in
    order once EVERY call has finished.

    Each thread inherits the caller's local properties (job group, job
    description, job tags) and session tags, so the jobs it starts count
    against the caller's group.  Each call is wrapped on its own:
    ``inheritable_thread_target`` clones the caller's properties when
    called, and every thread one wrapper starts would share (and mutate)
    that one clone.  A failed call does not stop the others; the first
    failure in ``calls`` order is raised after all of them end."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    return [f.result() for f in futures]


# ---------------------------------------------------------------------------
# plan hygiene
# ---------------------------------------------------------------------------
def bind_col(bound, build) -> "F.Column":
    """Let-binding for column expressions: evaluate ``bound`` ONCE per
    row and pass it to ``build`` as a lambda variable.

    The r6 profiling surprise behind this helper (guide §1/§7.2): a
    higher-order lambda that references a NON-attribute expression —
    e.g. n-gram builders slicing ``words_col(text)`` per position —
    re-evaluates that expression for EVERY element, because lambda
    bodies are evaluated per element and only lambda variables are
    bound.  ``ngram_topk``'s gram build dropped 33.7 s → 2.1 s at sf1
    from this one change (each 3-gram was re-running the regex
    normalization + split of the whole document).  Wrapping the value
    in a 1-element array and transforming it makes it a bona fide
    lambda variable, evaluated once; ``element_at`` unwraps the result.
    Values are unchanged — this is pure evaluation-count hygiene."""
    return F.element_at(F.transform(F.array(bound), build), 1)


def no_pushdown(cond) -> "F.Column":
    """Block filter pushdown for an EXPENSIVE predicate by wrapping it
    in a single non-deterministic CASE — the native-expression analogue
    of guide §4.4's ``asNondeterministic`` device.

    Why: Catalyst pushes deterministic filters through exchanges
    (including an explicit :func:`spread_input` repartition) down to the
    scan, so a predicate built from heavy text expressions re-serializes
    onto the scan's 1-2 tasks no matter how the plan above is spread.

    The shape matters (r6, measured): the earlier ``cond & nondet``
    conjunction did NOT work — PushDownPredicates splits a conjunction
    and pushes the deterministic conjuncts anyway, leaving only the
    guard above the exchange (the sfx10 plan showed the full gate
    predicate duplicated into every union branch's serialized scan
    filter AND re-evaluated in the project above: 5.3 s vs 0.6 s for
    the same columns unfiltered).  ``CASE WHEN nondet THEN cond END``
    is one non-splittable, non-deterministic predicate: it cannot be
    split into conjuncts, cannot be pushed through the exchange, and —
    equally important — cannot be substituted through the projection
    that computes ``cond``'s input columns, so the expensive
    expressions evaluate ONCE, in the projection.

    The guard is ``spark_partition_id() >= 0`` — always true, free to
    evaluate, formally non-deterministic (partition-dependent), and
    crucially SEEDLESS: a ``rand()`` guard draws a fresh seed per plan
    construction, so two invocations of the same query build different
    plans and Spark's CacheManager plan-matching no longer recognizes
    persisted intermediates (measured: it turned the bench's warmed
    curation cache into a per-run recompute).  Results are unchanged
    (the CASE yields ``cond`` exactly; a NULL ``cond`` filters out
    either way)."""
    return F.when(F.spark_partition_id() >= F.lit(0), cond)


def nondet_col(col) -> "F.Column":
    """Pin an EXPENSIVE projected expression so it evaluates exactly
    once: wrap it in the same vacuously-true non-deterministic CASE as
    :func:`no_pushdown`.  A filter that references the wrapped alias
    can then not be substituted through the projection (Catalyst pushes
    even non-deterministic predicates through deterministic projects by
    alias substitution — measured on the curation gate: the full marker
    scan evaluated once in the pushed filter and AGAIN in the project),
    and CollapseProject will not merge an outer field-unpacking project
    into it (that would duplicate a non-deterministic expression).
    Values are unchanged — the guard is always true and seedless, so
    plan equality (CacheManager matching) is preserved."""
    return F.when(F.spark_partition_id() >= F.lit(0), col)


#: analyzed-plan node classes that neither shuffle nor aggregate: a plan
#: made only of these (over leaf relations) is scan-shaped
_SCAN_SHAPED_NODES = frozenset({"Project", "Filter", "Union", "SubqueryAlias"})


def _scan_shaped(plan) -> bool:
    children = plan.children()
    if children.isEmpty():
        return True  # a leaf relation
    if plan.nodeName() not in _SCAN_SHAPED_NODES:
        return False
    return all(_scan_shaped(children.apply(i)) for i in range(children.size()))


def spread_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition an under-partitioned input up to the
    session's shuffle parallelism — the guide §2.5 "input skew: fix at
    the source or repartition immediately after the read" device for
    token-explode-heavy operators whose input is a small, few-split
    file (a compressed document table expands 10-50× into token work,
    so a 1-split scan serializes the whole operator).  A NO-OP whenever
    the scan already has ≥ the target partitions — at corpus scale the
    input has thousands of splits and nothing is shuffled.

    Applies ONLY to scan-shaped inputs: every node of the analyzed plan
    is a leaf relation, ``Project``, ``Filter``, ``Union`` or
    ``SubqueryAlias``.  The partition-count probe goes through
    ``df.rdd``, and under AQE that materializes the final plan by
    EXECUTING every upstream shuffle stage — on a composed input (joins,
    aggregations, ``distinct``) the probe itself would run the pipeline
    once before the real job (measured: it re-ran an entire curation
    subtree).  Composed inputs have shuffle-sized partitioning already
    and are returned as-is, as is any input whose probe fails (logged
    as a warning)."""
    spark = df.sparkSession
    P = min_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        if not _scan_shaped(df._jdf.queryExecution().analyzed()):
            return df
        n = df.rdd.getNumPartitions()
    except Exception as e:  # noqa: BLE001 — planning-only probe; never fatal
        log.warning("spread_input: partition probe failed, input left as is: %s", e)
        return df
    return df.repartition(P) if n < P else df
