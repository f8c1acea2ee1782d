"""The write-path part of ``batch_pipeline``: seeded micro-batches
committed to Delta and Iceberg tables, pushed to the online store, and
read back.

One cycle: append the raw batch to a Delta event log, MERGE it into a
latest-per-entity Delta feature table, UPSERT it into an Iceberg twin,
read the change feed for the changed keys, copy the batch into a
SqliteOnlineStore, read both tables back, then checkpoint and compact
the Delta table and rewrite the Iceberg table's data files. Maintenance
runs every cycle so that every benchmark run, which times one pass,
completes it.
"""

from __future__ import annotations

import os

import pandas as pd

from perfbench import gen
from perfbench.harness import median
from perfbench.workloads.common import Part

# Half of each batch updates existing entities and half inserts new
# ones: an even split, assumed for want of a published update/insert
# share for feature-table micro-batches.
SIZES = {
    "full": {
        "base_entities": 10_000,
        "batch_rows": 1_000,
        "update_share": 0.5,
        "zipf_s": 0.99,
    },
    "tiny": {
        "base_entities": 500,
        "batch_rows": 100,
        "update_share": 0.5,
        "zipf_s": 0.99,
    },
}

COMMITS = (
    "sources.delta_protocol.append",
    "sources.delta_protocol.merge",
    "sources.iceberg_protocol.upsert",
)
SNAPSHOTS = ("sources.delta_protocol.snapshot", "sources.iceberg_protocol.snapshot")
# every engine call of a cycle, each its own span
CALLS = (
    *COMMITS,
    "sources.delta_protocol.table_changes",
    "serving.online.materialize_to_online",
    *SNAPSHOTS,
    "sources.delta_protocol.maintenance",
    "sources.iceberg_protocol.maintenance",
)
ONLINE_TABLE = "refresh_value"


def _listing(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class FeatureRefresh(Part):
    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        super().__init__(rec, seed, sz, run_dir)
        self.tables_dir = os.path.join(run_dir, "tables")
        self.store = None
        self.batches: list[pd.DataFrame] = []
        self.change_rows: list[tuple[int, int]] = []
        self.files_rewritten: list[float] = []
        self.bytes_in = 0
        self.bytes_written = 0

    def register(self, spark) -> None:
        from featureform_spark.serving.sqlite_store import SqliteOnlineStore
        from featureform_spark.sources.delta_protocol import DeltaProtocolTable
        from featureform_spark.sources.iceberg_protocol import IcebergProtocolTable

        self.spark = spark
        with self.rec.span("fixture.create_tables"):
            self.base = gen.refresh_base(self.seed, self.sz).to_pandas()
            base_df = spark.createDataFrame(self.base)
            p = lambda name: os.path.join(self.tables_dir, name)  # noqa: E731
            self.events = DeltaProtocolTable(spark, p("delta_events"))
            self.events.create(base_df)
            self.feat = DeltaProtocolTable(spark, p("delta_features"))
            self.feat.create(base_df)
            self.ice = IcebergProtocolTable(spark, p("iceberg_features"))
            self.ice.create(base_df)
            self.store = SqliteOnlineStore(os.path.join(self.run_dir, "online.db"))
        self.seen = _listing(self.tables_dir)

    def op(self) -> None:
        from pyspark.sql import functions as F

        from featureform_spark.serving.online import materialize_to_online

        rec, i = self.rec, len(self.batches)
        batch = gen.refresh_batch(self.seed, i, self.sz)
        pdf = batch.to_pandas()
        bdf = self.spark.createDataFrame(pdf)
        with rec.span(COMMITS[0]):
            self.events.append(bdf)
        before = self.feat.version()
        with rec.span(COMMITS[1]):
            res = self.feat.merge(bdf, key="entity_id")
        self.files_rewritten.append(res["files_rewritten"] / max(1, res["files_total"]))
        with rec.span(COMMITS[2]):
            self.ice.upsert(bdf, ["entity_id"])
        with rec.span("sources.delta_protocol.table_changes"):
            n_ins = (
                self.feat.table_changes(before, res["version"])
                .filter(F.col("_change_type") == "insert")
                .join(bdf.select("entity_id"), "entity_id", "left_semi")
                .count()
            )
        self.change_rows.append((n_ins, len(pdf)))
        with rec.span("serving.online.materialize_to_online"):
            materialize_to_online(
                bdf.select(F.col("entity_id").alias("entity"), "value"),
                self.store,
                ONLINE_TABLE,
            )
        with rec.span(SNAPSHOTS[0]):
            self.delta_snapshot = self.feat.snapshot().toPandas()
        with rec.span(SNAPSHOTS[1]):
            self.ice_snapshot = self.ice.snapshot().toPandas()
        self.batches.append(pdf)
        self.batch_bytes = batch.nbytes
        with rec.span("sources.delta_protocol.maintenance"):
            self.feat.checkpoint()
            self.feat.compact()
        with rec.span("sources.iceberg_protocol.maintenance"):
            self.ice.rewrite_data_files()

    def after_op(self) -> None:
        """Account bytes written by the cycle (files that are new or
        changed since the last listing) against the batch's bytes."""
        now = _listing(self.tables_dir)
        self.bytes_written += sum(
            size for p, size in now.items() if self.seen.get(p) != size
        )
        self.seen = now
        self.bytes_in += self.batch_bytes

    def _expected(self) -> pd.DataFrame:
        allrows = pd.concat([self.base, *self.batches], ignore_index=True)
        return allrows.sort_values("ts").groupby("entity_id", as_index=False).last()

    def verify(self, checks) -> None:
        want = self._expected()
        checks.same("refresh.delta_snapshot", self.delta_snapshot, want)
        checks.same("refresh.iceberg_snapshot", self.ice_snapshot, want)
        final_delta = self.feat.snapshot().toPandas()
        checks.same("refresh.delta_after_maintenance", final_delta, want)
        n_events = self.events.snapshot().count()
        n_want = len(self.base) + sum(len(b) for b in self.batches)
        checks.expect("refresh.delta_events_rows", n_events == n_want, f"{n_events} != {n_want}")
        bad = [c for c in self.change_rows if c[0] != c[1]]
        checks.expect("refresh.change_feed_inserts", not bad, f"{bad[:3]}")
        last = self.batches[-1]
        got = [self.store.get(ONLINE_TABLE, int(e)) for e in last["entity_id"]]
        checks.expect(
            "refresh.online_values",
            got == [float(v) for v in last["value"]],
            "online store disagrees with the last batch",
        )

    def _table_stats(self) -> dict[str, float]:
        feat_log = os.path.join(self.feat.path, "_delta_log")
        files = self.ice.metadata_table("files").toPandas()
        deletes = self.ice.metadata_table("delete_files").toPandas()
        live = (
            self.feat.detail()["sizeInBytes"]
            + self.events.detail()["sizeInBytes"]
            + int(files["file_size_in_bytes"].sum())
            + int(deletes["file_size_in_bytes"].sum())
        )
        on_disk = sum(_listing(self.tables_dir).values())
        return {
            "sources.delta_protocol.log_files": float(
                sum(1 for f in os.listdir(feat_log) if f.endswith(".json"))
            ),
            "sources.delta_protocol.data_files": float(self.feat.detail()["numFiles"]),
            "sources.iceberg_protocol.data_files": float(len(files)),
            "sources.iceberg_protocol.delete_files": float(len(deletes)),
            "sources.iceberg_protocol.manifests": float(
                self.ice.metadata_table("manifests").count()
            ),
            "space_amp": on_disk / live,
        }

    def report(self) -> list[tuple[str, float, str, int]]:
        s = self.rec.samples
        commits = [t for name in COMMITS for t in s.get(name, [])]
        reads = [t for name in SNAPSHOTS for t in s.get(name, [])]
        self.stats = self._table_stats()
        return [
            ("commit_p50_ms", median(commits) * 1e3, "ms", len(commits)),
            ("read_after_write_ms", median(reads) * 1e3, "ms", len(reads)),
            ("write_amp", self.bytes_written / self.bytes_in, "ratio", len(self.batches)),
            ("space_amp", self.stats["space_amp"], "ratio", 1),
        ]

    def layer_metrics(self, samples, counters) -> dict[str, float]:
        out = {k: v for k, v in self.stats.items() if k != "space_amp"}
        for name in COMMITS:
            out[f"{name}.s"] = median(samples[name])
            out[f"{name}.jobs"] = median([c.get("jobs", 0.0) for c in counters[name]])
            out[f"{name}.executor_cpu_s"] = median(
                [c.get("executor_cpu_s", 0.0) for c in counters[name]]
            )
        out["sources.delta_protocol.merge.files_rewritten_frac"] = median(self.files_rewritten)
        for name in (
            *SNAPSHOTS,
            "sources.delta_protocol.table_changes",
            "sources.delta_protocol.maintenance",
            "serving.online.materialize_to_online",
        ):
            out[f"{name}_s"] = median(samples[name])
        out["sources.bytes_written_mb"] = self.bytes_written / 1e6
        return out

    def close(self) -> None:
        if self.store is not None:
            self.store.close()
