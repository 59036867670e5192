"""Workload ``pipeline``: the write paths and the batch paths of one
pipeline pass.

One step (one operation) is an ingest episode (``stream_ingest.py``:
an untimed seeding round, then timed rounds through the incremental
sync and the minhash dedup sink) followed by one pass over the batch
query list (``batch_queries.py``). Its latency is the timed part of
both. The two parts never share state; they share one run so that the
streaming, versioned-store, plan and operator layers are all measured
within the time one run may take.
"""

from __future__ import annotations

from batch_queries import BatchQueries
from stream_ingest import StreamIngest

# At sf0.1 a run takes about 83 s on a 4-CPU host instead of about 60 s,
# more than the benchmark's time budget allows for both workloads.
SF = 0.01


class Pipeline:
    sf = SF

    def __init__(self, ctx):
        self.parts = (StreamIngest(ctx), BatchQueries(ctx))
        self.op_s: list[float] = []

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def step(self) -> list[float]:
        s = sum(sum(p.step()) for p in self.parts)
        self.op_s.append(s)
        return [s]

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.parts)

    @property
    def checked(self) -> int:
        return sum(p.checked for p in self.parts)

    def check(self, table_hash) -> int:
        return sum(p.check(table_hash) for p in self.parts)

    def named(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.named().items()}

    def in_group(self, group: str) -> bool:
        return any(p.in_group(group) for p in self.parts)

    def layers(self, work) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layers(work).items()}
