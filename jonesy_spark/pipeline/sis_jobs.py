"""The reference's three cron jobs wired to the literal SIS-schema
builders (plans.sis_queries) — the complete end-to-end replica: a user
of the reference can run the jobs they run today against the same
relations and get the same gzip CSV extracts.

Mirrors reference ``jonesy/jobs.py``:
  * upload_advisors  (``jobs.py:30-38``): two term-independent extracts
  * upload_snapshot  (``jobs.py:50-63``): attributes + per-current-term
    courses & enrollments (term fan-out via get_current_terms)
  * upload_recent_refresh (``jobs.py:39-49``): per-term watermarked
    enrollment + instructor updates (5-day lookback, ``jobs.py:19,40``)

File keys match the reference's S3 key templates (``jobs.py:33-62``);
objects land under the md5 date-hashed daily prefix in every target.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans import sis_queries as SQ
from .jobs import emit

RECENT_REFRESH_CUTOFF_DAYS = 5  # reference jonesy/jobs.py:19


@dataclass
class SisJobContext:
    spark: SparkSession
    fixtures_dir: str
    out_root: str
    targets: list[str]
    run_date: date
    now: datetime
    written: list[str] = field(default_factory=list)

    @property
    def recency_cutoff(self) -> datetime:
        return self.now - timedelta(days=RECENT_REFRESH_CUTOFF_DAYS)


def current_term_ids(ctx: SisJobContext) -> list[str]:
    """get_current_term_ids (``jonesy/jobs.py:71-74``)."""
    return [
        r["term_id"]
        for r in SQ.current_terms(ctx.spark, ctx.fixtures_dir, ctx.run_date).collect()
    ]


def upload_advisors(ctx: SisJobContext) -> None:
    emit(
        ctx,
        SQ.advisor_notes_access(ctx.spark, ctx.fixtures_dir),
        "advisors/advisor-note-permissions.csv.gz",
    )
    emit(
        ctx,
        SQ.instructor_advisor_relationships(ctx.spark, ctx.fixtures_dir),
        "advisors/instructor-advisor-map.csv.gz",
    )


def upload_snapshot(ctx: SisJobContext) -> None:
    emit(
        ctx,
        SQ.basic_attributes(ctx.spark, ctx.fixtures_dir),
        "sis-data/basic-attributes.csv.gz",
        order_by=[F.col("ldap_uid")],
    )
    for term in current_term_ids(ctx):
        emit(
            ctx,
            SQ.term_courses(ctx.spark, ctx.fixtures_dir, term),
            f"sis-data/courses-{term}.csv.gz",
        )
        emit(
            ctx,
            SQ.term_enrollments(ctx.spark, ctx.fixtures_dir, term),
            f"sis-data/enrollments-{term}.csv.gz",
            order_by=[F.col("section_id"), F.col("sis_id")],
        )


def upload_recent_refresh(ctx: SisJobContext) -> None:
    for term in current_term_ids(ctx):
        emit(
            ctx,
            SQ.recent_enrollment_updates(
                ctx.spark, ctx.fixtures_dir, term, ctx.recency_cutoff
            ),
            f"sis-data/enrollment-updates-{term}.csv.gz",
        )
        emit(
            ctx,
            SQ.recent_instructor_updates(
                ctx.spark, ctx.fixtures_dir, term, ctx.recency_cutoff
            ),
            f"sis-data/instructor-updates-{term}.csv.gz",
        )


SIS_JOBS = {
    "upload_advisors": upload_advisors,
    "upload_snapshot": upload_snapshot,
    "upload_recent_refresh": upload_recent_refresh,
}


def run_sis_job(name: str, ctx: SisJobContext) -> SisJobContext:
    if name not in SIS_JOBS:
        raise SystemExit(f"unknown or missing job {name!r}; known: {sorted(SIS_JOBS)}")
    SIS_JOBS[name](ctx)
    return ctx
