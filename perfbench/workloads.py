"""Workload definitions: which paths a run times, over which inputs."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    paths: tuple[str, ...]  # timed in order: ingest, serve, curate
    days: int = 0  # feed days generated (gen.make_days)
    corpus: bool = False  # generate the document corpus (gen.write_corpus)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "daily_cycle",
            "the feed's 3-day window is loaded into fresh marts, then 4 closed-loop dashboard clients query them",
            ("ingest", "serve"),
            days=3,  # the feed's retention and the dashboard's default window (app.py:263)
        ),
        Workload(
            "corpus_curation",
            "the LLM-data batch: no mart, no cache, shuffle-heavy dedup and clustering",
            ("curate",),
            corpus=True,
        ),
    )
}
