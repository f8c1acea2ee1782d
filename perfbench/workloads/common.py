"""Helpers shared by the Spark workloads."""

from __future__ import annotations

import os


class Part:
    """One stage of a Spark workload's pass. ``generate`` runs before
    the JVM starts, ``register`` gets the session; ``op`` is one timed
    pass and ``verify`` checks its outputs."""

    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        self.rec, self.seed, self.sz, self.run_dir = rec, seed, sz, run_dir

    def generate(self) -> None:
        pass

    def register(self, spark) -> None:
        raise NotImplementedError

    def op(self) -> None:
        raise NotImplementedError

    def verify(self, checks) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass


def write_parquet(tables: dict, data_dir: str) -> dict[str, str]:
    """Write each generated table to ``<data_dir>/<name>.parquet``;
    returns name -> path."""
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def timed_call(rec, name: str, build):
    """Run one engine call as span ``name`` with two children:
    ``<name>.build`` until the DataFrame is returned (driver work and
    any eager jobs) and ``<name>.exec``, the forcing action, which
    collects the rows for the checks. Returns (DataFrame, pandas)."""
    with rec.span(name):
        with rec.span(name + ".build"):
            df = build()
        with rec.span(name + ".exec"):
            return df, df.toPandas()
