"""The end-to-end incremental ETL job (entry point 1, SURVEY.md §3.1).

Composes extract -> transform -> load -> checkpoint with the reference's
commit protocol (reference core/services/billing_etl.py:43-219):

1. the caller resolves tenant config (S3) and provisions the
   destination (D7): ``orchestrator`` joins each message to the config
   and never runs an unknown org
2. read watermark = latest SUCCESS end_date_time, else epoch (T1)
3. extract window [watermark, now) (S1/P4) — ``now`` pinned once per run
4. checkpoint IN_PROGRESS  (T4)
5. transform hook (U1) — ``DataFrame.transform``, identity by default
6. append-load with partial-failure accounting (S8); the same pass
   observes max(ts) over every row the load saw, rejected rows included
7. derive new watermark = that max(ts) + 1µs; ``now`` on an empty
   batch (T2, ``batch_watermark``) — no second scan of the window
8. checkpoint SUCCESS / FAILED (T4), retry whole attempt <= 3 with
   exponential backoff (T7)

The data path is ONE Spark job (the load's write): the checkpoint log is
read and appended on the driver (``CheckpointLog``) and the watermark
rides the load's ``observe`` metrics. The transform hook must keep
``ts_col``; a hook that drops rows moves the watermark with them (a hook
that drops every row makes an empty batch, which advances to ``now``).

Divergences (documented, SURVEY.md §7.4): idempotent overwrite-by-batch-id
instead of at-least-once append; no LIMIT/OFFSET pagination; ``now``
pinned at the driver. The batch id is (org, window start): the start is
the last SUCCESS watermark, so a run that crashed after its load but
before its SUCCESS checkpoint re-runs under the SAME id — even with a
later ``now`` — and overwrites its own partition instead of loading the
window twice.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.checkpoint import CheckpointLog
from .operators.extract import batch_watermark, extract_incremental
from .operators.load import LoadResult, load_append
from .schemas import STATUS_FAILED, STATUS_IN_PROGRESS, STATUS_SUCCESS

Transform = Callable[[DataFrame], DataFrame]

EPOCH = dt.datetime(1970, 1, 1)


def identity_transform(df: DataFrame) -> DataFrame:
    """U1: the documented custom-transformation hook
    (reference billing_etl.py:301-303) — identity by default."""
    return df


@dataclasses.dataclass
class JobResult:
    status: str
    code: int
    org_id: int
    project_id: str
    window_start: dt.datetime
    window_end: dt.datetime
    rows_extracted: int
    rows_loaded: int
    new_watermark: dt.datetime
    attempts: int


def process_etl_job(
    spark: SparkSession,
    org_id: int,
    source: DataFrame,
    ts_col: str,
    dest_path: str,
    checkpoints: CheckpointLog,
    project_id: str = "default",
    transform: Transform = identity_transform,
    now: dt.datetime | None = None,
    max_attempts: int = 3,
    backoff: Callable[[int], float] | None = None,
    validate=None,
) -> JobResult:
    """Run one incremental ETL job for one tenant."""
    now = now or dt.datetime.now()

    last_exc: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            wm = checkpoints.last_success_watermark(org_id, project_id)
            batch, start, end = extract_incremental(source, ts_col, wm, now, epoch=EPOCH)
            checkpoints.save(STATUS_IN_PROGRESS, org_id, project_id, None, now=now)
            transformed = batch.transform(transform)
            # keyed by the window START only (microseconds included): a
            # restart after a crash re-loads into the same partition
            batch_id = f"org{org_id}-{start:%Y%m%dT%H%M%S%f}"
            result: LoadResult = load_append(
                transformed, dest_path, batch_id=batch_id, validate=validate, ts_col=ts_col
            )
            if result.status == STATUS_FAILED:
                raise RuntimeError(f"load failed: {result}")
            new_wm = batch_watermark(result.max_ts, now)
            checkpoints.save(STATUS_SUCCESS, org_id, project_id, new_wm, now=now)
            return JobResult(
                status=result.status,
                code=result.code,
                org_id=org_id,
                project_id=project_id,
                window_start=start,
                window_end=end,
                rows_extracted=result.total_rows,
                rows_loaded=result.loaded_rows,
                new_watermark=new_wm,
                attempts=attempt,
            )
        except Exception as exc:  # T7 retry envelope (billing_etl.py:144-219)
            last_exc = exc
            if attempt < max_attempts:
                time.sleep(backoff(attempt) if backoff else 0.0)

    # Final failure: FAILED checkpoint with the *old* watermark untouched —
    # avoiding the reference's possible NameError on an unset end_date_time
    # (SURVEY.md §7.4.7).
    checkpoints.save(STATUS_FAILED, org_id, project_id, None, now=now)
    raise RuntimeError(f"ETL job failed after {max_attempts} attempts: {last_exc}")
