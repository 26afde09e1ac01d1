"""Overlap independent Spark jobs from driver threads (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are sequential only because driver code calls them
sequentially.  When two side-effect chains are INDEPENDENT (e.g. the
text-index save and the vector-store fit+save of a day-0 bootstrap,
or the two per-day index appends of the multimodal capstone), running
them from a small thread pool lets the later chain's tasks back-fill
executors freed by the earlier chain's tail instead of paying the full
serial sum of job walls + driver gaps.

`pipeline.CdcPipeline.apply_changes` overlaps its per-table applies
through the same pool — threads only drive job submission; the cluster
still schedules the work.
"""

from __future__ import annotations

import logging
from typing import Callable, Optional, Sequence

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def overlap_jobs(
    spark: SparkSession,
    thunks: Sequence[Callable[[], object]],
    max_workers: Optional[int] = None,
    inherit_local_properties: bool = True,
) -> list:
    """Run independent job-submitting thunks concurrently, at most
    ``max_workers`` at a time (default: all at once); return their
    results in order.

    Fail-fast like a serial loop, but safely: on the first failure,
    thunks that have not started are cancelled (they must not commit
    after the caller is told the work failed), thunks already running
    are joined (none is still running when this returns or raises), any
    other failure among them is logged as a WARNING, and the first
    failure in SUBMISSION order is re-raised.

    ``inherit_local_properties=False`` starts the workers without the
    caller's local properties, for a caller running inside a SQL
    execution (a ``foreachBatch`` callback): its running execution id,
    job group and propagated SQL confs then stay on the calling thread,
    and each worker's actions run as their own root executions.

    Note the caller still owns rollback of any side effects a completed
    sibling thunk committed before the failure surfaced — wrap cleanup
    in try/finally at the call site."""
    workers = len(thunks) if max_workers is None else min(max_workers, len(thunks))
    if workers <= 1:
        return [t() for t in thunks]
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    jspark = spark._jsparkSession
    jvm = spark._jvm
    # JVM thread-local state does not cross driver threads under the
    # pinned-thread gateway: besides the active session, the caller's
    # LOCAL PROPERTIES (job description / job group — guide §1.5) must be
    # copied into each worker, or overlapped jobs lose their labels in
    # the UI/event log (ADVICE r16: profile_query's per-query stage
    # attribution silently excluded overlapped jobs).  Same clone/set
    # pair pyspark.util.inheritable_thread_target uses — one clone per
    # thunk, since workers mutate their copy (job descriptions, SQL
    # execution ids) concurrently.
    props = None
    if inherit_local_properties:
        try:
            props = spark.sparkContext._jsc.sc().getLocalProperties().clone()
        except Exception:
            props = None

    def _bound(t):
        # the active session is thread-local on the JVM side; bind the
        # shared session so code using SparkSession.getActiveSession()
        # works off-main-thread (the CdcPipeline discipline)
        jvm.SparkSession.setActiveSession(jspark)
        if props is not None:
            spark.sparkContext._jsc.sc().setLocalProperties(props.clone())
        return t()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(_bound, t) for t in thunks]
        _, pending = wait(futures, return_when=FIRST_EXCEPTION)
        for f in pending:
            f.cancel()
    # `with` joined every started worker
    failed = [
        (i, f.exception())
        for i, f in enumerate(futures)
        if not f.cancelled() and f.exception() is not None
    ]
    if failed:
        for i, exc in failed[1:]:
            logger.warning(
                "overlapped job %d of %d also failed: %r", i + 1, len(thunks), exc
            )
        raise failed[0][1]
    return [f.result() for f in futures]
