"""The benchmark's three pipelines and the ODF requests that drive them.

Each pipeline is a chain of invocations over its own checkpoint: the
request for slice `k` carries the new slice of every input, its explicit
watermark and the next offset; the checkpoint comes from invocation `k-1`.
The SQL is imported from `bench.py`, so the benchmark runs the same query
text as the repository's suite.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from bench import CHAINED_STEPS, CHANGELOG_ASOF_STEPS, KEYED_TOPN_SQL
from kamu_engine_flink_spark.protocol.model import (
    DatasetVocabulary,
    SqlQueryStep,
    TemporalTable,
    Transform,
    TransformRequest,
    TransformRequestInput,
    Watermark,
)

from .gen import Ledger, Shape, Slice


@dataclass(frozen=True)
class Pipeline:
    name: str
    steps: list[tuple[str | None, str]]
    inputs: tuple[str, ...]
    temporal_tables: tuple[tuple[str, str], ...] = ()
    # Inputs that never receive late rows (see `oracle.py`).
    on_time_inputs: tuple[str, ...] = ()
    # Inputs whose `value` is distinct on every row.
    unique_value_inputs: tuple[str, ...] = ()

    def transform(self) -> Transform:
        return Transform(
            queries=[SqlQueryStep(query=q, alias=a) for a, q in self.steps],
            temporal_tables=[TemporalTable(name=n, primary_key=[pk]) for n, pk in self.temporal_tables],
        )


PIPELINES = {
    # Interval join purchases x clicks -> 1-day tumbling aggregate -> filter.
    "pl_interval_window": Pipeline(
        "pl_interval_window",
        list(CHAINED_STEPS),
        ("purchases", "clicks"),
    ),
    # Per-user Top-3 with CorrectFrom/CorrectTo corrections.
    "pl_keyed_topn": Pipeline(
        "pl_keyed_topn",
        [(None, KEYED_TOPN_SQL)],
        ("events",),
        unique_value_inputs=("events",),
    ),
    # Continuous aggregate -> FOR SYSTEM_TIME AS OF join probed by clicks.
    "pl_agg_asof": Pipeline(
        "pl_agg_asof",
        list(CHANGELOG_ASOF_STEPS),
        ("purchases", "clicks"),
        temporal_tables=(("rates", "user_id"),),
        on_time_inputs=("clicks",),
    ),
}


@dataclass
class Chain:
    """One pipeline's chain of invocations in one run: its ledgers, the
    slices sent so far, and per invocation the offset interval the engine
    returned and the output file it wrote (None when it wrote none)."""

    pipeline: Pipeline
    ledgers: dict[str, Ledger]
    workdir: str
    next_offset: int = 0
    sent: list[dict[str, Slice]] = field(default_factory=list)
    intervals: list[tuple[int, int] | None] = field(default_factory=list)
    files: list[str | None] = field(default_factory=list)
    # The latest checkpoint: a directory, or a tar archive via the adapter.
    checkpoint: str | None = None
    adapter: object = None

    @classmethod
    def create(cls, pipeline: Pipeline, shape: Shape, seed: int, root: str) -> "Chain":
        workdir = os.path.join(root, pipeline.name)
        ledgers = {
            name: Ledger(
                os.path.join(workdir, "in"),
                seed,
                pipeline.name,
                name,
                shape,
                late=name not in pipeline.on_time_inputs,
                unique_values=name in pipeline.unique_value_inputs,
                row_share=shape.second_input_share if i == 1 else 1.0,
            )
            for i, name in enumerate(pipeline.inputs)
        }
        os.makedirs(os.path.join(workdir, "out"), exist_ok=True)
        return cls(pipeline, ledgers, workdir)

    def next_request(self) -> TransformRequest:
        """Generate the next slice of every input and build its request.
        The previous checkpoint is set by the client."""
        k = len(self.sent)
        slices = {name: ledger.write(k) for name, ledger in self.ledgers.items()}
        self.sent.append(slices)
        wm = max(s.watermark for s in slices.values())
        out = os.path.join(self.workdir, "out", f"{k:05d}.parquet")
        return TransformRequest(
            transform=self.pipeline.transform(),
            query_inputs=[
                TransformRequestInput(
                    query_alias=name,
                    data_paths=[s.path],
                    schema_file=s.path,
                    vocab=DatasetVocabulary(),
                    explicit_watermarks=[Watermark(system_time=wm, event_time=s.watermark)],
                )
                for name, s in slices.items()
            ],
            system_time=wm,
            next_offset=self.next_offset,
            prev_checkpoint_path=None,
            new_checkpoint_path=os.path.join(self.workdir, "cp", f"{k:05d}"),
            new_data_path=out,
            vocab=DatasetVocabulary(),
        )

    def input_rows(self, k: int) -> int:
        return sum(s.rows for s in self.sent[k].values())
