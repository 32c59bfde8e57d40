"""The benchmark's workloads: seeded event-log shapes and driver settings.

Every workload drives the same public CDC surface (generate_event_log ->
ChangeTailSource -> EpochDriver.run -> apply_epoch -> IceTable, plus
IceTable.lookup between epochs); they differ in the input properties the
engine's cost depends on, so each one loads a different layer.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from datax_spark.datagen.generator import EventLogSpec

# Storage partitions of every benchmark table. Fixed so that file layout,
# and with it the per-epoch job shapes, never depends on the host.
TABLE_PARTITIONS = 4

# Seed of the small warm-up log; fixed so it is generated once per checkout.
WARMUP_SEED = 7


@dataclass(frozen=True)
class Workload:
    """One workload; its reason to exist is the ``why`` in BENCHMARK.json."""

    name: str
    epoch_events: int  # change events per timed epoch (one log shard)
    epochs: int  # timed epochs: every run does the same work
    spec_kwargs: dict = field(default_factory=dict)
    driver_kwargs: dict = field(default_factory=dict)

    def spec(self, seed: int) -> EventLogSpec:
        return EventLogSpec(
            n_events=self.epoch_events * self.epochs,
            n_epochs=self.epochs,
            seed=seed,
            **self.spec_kwargs,
        )

    def warmup_spec(self) -> EventLogSpec:
        """One small epoch with the timed log's events-per-url ratio (so the
        LWW strategy matches): the code paths the timed epochs take are
        compiled and their Python workers started before timing."""
        s = self.spec(WARMUP_SEED)
        n = 500
        return replace(
            s,
            n_events=n,
            n_urls=max(round(s.n_urls * n / s.n_events), 10),
            n_epochs=1,
            evolve_at_epoch=None if s.evolve_at_epoch is None else 0,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="bulk_upsert",
            epoch_events=40000,
            epochs=2,
            spec_kwargs=dict(
                n_urls=40000, n_domains=100, words_scale=4, evolve_at_epoch=1
            ),
        ),
        Workload(
            name="trickle_serve",
            epoch_events=2000,
            epochs=4,
            spec_kwargs=dict(
                n_urls=12000, n_domains=50, update_p=0.5, dirty_per_epoch=2
            ),
            # compaction only on the file-count trigger: every epoch touches
            # every partition, so compactions land on the same epoch (the
            # fourth) for every seed instead of wherever delete debt crosses
            driver_kwargs=dict(
                merge_strategy="mor",
                max_files_per_partition=3,
                max_delete_debt=None,
                expire_keep_last=3,
            ),
        ),
    )
}
