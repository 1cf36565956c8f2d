"""Workload definitions: which registry queries a pass runs, at which scale.

Each workload is a fixed, ordered list of registry query names run by one
closed-loop client (the next query starts only when the previous one has
returned its digest); why each workload was chosen is recorded in
BENCHMARK.json. Inputs come from ``tools/gen_scale.generate(sf, dir,
seed)``; the program only ever sees the generated parquet directory.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="reference_etl",
            sf=0.01,
            queries=(
                "flagship_agent_dedup",
                "j1_cdc_classify",
                "er_golden_records",
                "tpch_q1_pricing_summary",
                "e2_sessionize",
            ),
        ),
        Workload(
            name="stream_ingest",
            sf=0.01,
            queries=(
                "c3_streaming_cdc",
                "c17_stream_media_dedup",
            ),
        ),
    )
}
