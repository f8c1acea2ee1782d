"""online_serving: the serving plane in a closed loop with one client.

Set-up builds the inputs and an HNSW graph (numpy) while the JVM
starts, then deploys four features to a SqliteOnlineStore through
``FeatureServer.deploy_feature`` while another thread builds an IVF-PQ
index (Spark); then it stops Spark, so the timed loop runs no JVM work,
and starts the Flight streamer on localhost. Each request is
drawn by seed from ``MIX``; Zipf-skewed entity keys give the store a
hot set that fits SQLite's page cache while the keyspace does not.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import concurrently, median, percentile, start_spark, stop_spark, tail

SIZES = {
    "full": {
        "entities": 6_000,
        "zipf_s": 0.99,
        "ivf_vectors": 4_000,
        "hnsw_vectors": 1_000,
        "dim": 64,
        "query_pool": 1_000,
        "flight_rows": 50_000,
        "requests": 400_000,
    },
    "tiny": {
        "entities": 300,
        "zipf_s": 0.99,
        "ivf_vectors": 1_000,
        "hnsw_vectors": 300,
        "dim": 16,
        "query_pool": 20,
        "flight_rows": 1_000,
        "requests": 50_000,
    },
}

# Requests of each kind per block of 100. Reads and writes split
# 95 : 5 as in YCSB workload B (read-mostly). The split of the reads is
# an assumption, not taken from any trace: every kind other than serve
# gets 2 per block (about 90 samples per kind in a 3 s run) and
# serve takes the rest, as lookups are the bulk of feature-store reads.
MIX = {
    "serve": 81,
    "set_if_newer": 5,
    "hnsw": 2,
    "hnsw_filtered": 2,
    "ivf": 2,
    "ivf_filtered": 2,
    "flight_get": 2,
    "flight_nearest": 2,
    "flight_multi_get": 2,
}
WARMUP_REQUESTS = 500
KINDS = sorted(MIX)
K = 10
ALLOW_SHARE = 0.2
ONDEMAND = "ondemand/spend_per_visit.default"
SERVED = [f"{f}.default" for f in gen.FEATURES] + [ONDEMAND]


def exact_topk(base: np.ndarray, q: np.ndarray, k: int, allow=None) -> np.ndarray:
    """Ids of the exact k nearest (squared L2) base vectors per query."""
    b, q = base.astype(np.float64), q.astype(np.float64)
    d = (b * b).sum(1)[None, :] - 2.0 * q @ b.T + (q * q).sum(1)[:, None]
    if allow is not None:
        mask = np.ones(base.shape[0], dtype=bool)
        mask[list(allow)] = False
        d[:, mask] = np.inf
    return np.argsort(d, axis=1, kind="stable")[:, :k]


class _TimedStore:
    """Store proxy that times the calls FeatureServer makes into the
    store (traced runs only)."""

    def __init__(self, store, rec):
        self._store, self._rec = store, rec

    def get(self, table, entity):
        with self._rec.span("serving.sqlite_store.get"):
            return self._store.get(table, entity)

    def __getattr__(self, name):
        return getattr(self._store, name)


class Workload:
    COUNTED_SPANS = ()
    # the span of each request kind
    KIND_SPANS = (
        "serving.server.serve",
        "serving.sqlite_store.set_if_newer",
        "serving.hnsw_index.query",
        "serving.hnsw_index.filtered",
        "serving.ann_index.query",
        "serving.ann_index.filtered",
        "serving.flight_server.do_get",
        "serving.flight_server.nearest_rpc",
        "serving.flight_server.multi_get_rpc",
    )
    BLOCK = sum(MIX.values())

    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        self.rec, self.seed, self.sz, self.run_dir = rec, seed, sz, run_dir
        self.spark = None
        self.server = self.client = self.store = None
        self.log: list[tuple[int, object]] = []
        self.jvm_hwm_mb = 0.0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        import pyarrow.flight as fl

        from featureform_spark.serving.flight_server import DatasetStreamerServer

        rec, sz = self.rec, self.sz

        def start() -> None:
            self.spark = start_spark(rec, self.run_dir)

        def inputs() -> None:
            self.flight_root = self._generate()
            self._build_hnsw(self.vecs[: sz["hnsw_vectors"]])

        # the JVM starts while the inputs and the HNSW graph (numpy, no
        # Spark) are built
        concurrently(rec, start, inputs)
        concurrently(rec, self._deploy, lambda: self._build_ivf(self.vecs))
        self.jvm_hwm_mb = stop_spark(self.spark)
        self.spark = None
        rec.attach(None)
        with rec.span("fixture.flight"):
            self.server = DatasetStreamerServer({"default": self.flight_root})
            self.server.register_index("ivf", self.ivf)
            self.client = fl.connect(f"grpc://127.0.0.1:{self.server.port}")
        self.i = 0
        with rec.span("fixture.warmup"):
            for _ in range(WARMUP_REQUESTS):
                self._request(record=False)

    def _generate(self) -> str:
        """Generate every input; returns the Flight catalog root."""
        rec, sz, seed = self.rec, self.sz, self.seed
        with rec.span("fixture.generate"):
            self.feats = gen.serving_features(seed, sz)
            self.values = self.feats.to_pandas().set_index("entity")
            vecs = gen.clustered_vectors(seed, 10, sz["ivf_vectors"], sz["dim"])
            self.vecs = vecs
            rng = np.random.default_rng([seed, 11])
            self.queries = (
                vecs[rng.choice(len(vecs), sz["query_pool"], replace=False)]
                + 0.1 * rng.standard_normal((sz["query_pool"], sz["dim"]))
            ).astype(np.float32)
            self.allow = frozenset(
                rng.choice(len(vecs), int(ALLOW_SHARE * len(vecs)), replace=False).tolist()
            )
            nh = sz["hnsw_vectors"]
            allow_h = frozenset(i for i in self.allow if i < nh)
            self.truth = {
                "ivf": exact_topk(vecs, self.queries, K),
                "ivf_filtered": exact_topk(vecs, self.queries, K, self.allow),
                "hnsw": exact_topk(vecs[:nh], self.queries, K),
                "hnsw_filtered": exact_topk(vecs[:nh], self.queries, K, allow_h),
            }
            self.allow_h = allow_h
            self.flight_src = gen.flight_table(seed, sz)
            flight_root = os.path.join(self.run_dir, "flight")
            os.makedirs(os.path.join(flight_root, "ns", "train"))
            pq.write_table(
                self.flight_src,
                os.path.join(flight_root, "ns", "train", "part-0.parquet"),
                row_group_size=8192,
            )
            self.kinds = gen.request_kinds(seed, sz["requests"], MIX)
            self.entities = gen.request_entities(seed, sz["requests"], sz)
        return flight_root

    def _deploy(self) -> None:
        """Register the features and an on-demand feature, and deploy
        them to the SQLite store through the FeatureServer."""
        from featureform_spark.plans.engine import Engine
        from featureform_spark.registry import FeatureVariant, Registry
        from featureform_spark.serving.server import FeatureServer
        from featureform_spark.serving.sqlite_store import SqliteOnlineStore

        rec = self.rec
        with rec.span("registry.register"):
            reg = Registry()
            reg.register_dataframe(
                "serving_features", self.spark.createDataFrame(self.feats.to_pandas())
            )
            for f in gen.FEATURES:
                reg.register(
                    FeatureVariant(
                        name=f,
                        source="serving_features.default",
                        entity="user",
                        entity_column="entity",
                        value_column=f,
                        timestamp_column="ts",
                    )
                )

            def spend_per_visit(params, entity, values):
                return values[0] / (1.0 + values[1])

            if rec.trace:
                raw = spend_per_visit

                def spend_per_visit(params, entity, values):  # noqa: F811
                    with rec.span("serving.server.ondemand"):
                        return raw(params, entity, values)

            reg.register_ondemand("spend_per_visit", spend_per_visit)
        with rec.span("fixture.deploy_features"):
            self.store = SqliteOnlineStore(os.path.join(self.run_dir, "online.db"))
            store = _TimedStore(self.store, rec) if rec.trace else self.store
            self.fs = FeatureServer(Engine(self.spark, reg), store)
            for f in gen.FEATURES:
                self.fs.deploy_feature(f"{f}.default")

    def _build_ivf(self, vecs: np.ndarray) -> None:
        from featureform_spark.serving.ann_index import IvfPqIndex

        with self.rec.span("fixture.vectors_df"):
            vdf = self.spark.createDataFrame(
                pd.DataFrame(
                    {"vec_id": np.arange(len(vecs)), "embedding": list(vecs.astype(np.float64))}
                ),
                "vec_id long, embedding array<double>",
            ).cache()
            vdf.count()
        with self.rec.span("serving.ann_index.build"):
            self.ivf = IvfPqIndex.build(vdf, num_cells=32, m=8, ksub=16, dim=self.sz["dim"])

    def _build_hnsw(self, vecs: np.ndarray) -> None:
        from featureform_spark.serving.hnsw_index import HnswIndex

        with self.rec.span("serving.hnsw_index.build"):
            self.hnsw = HnswIndex(self.sz["dim"], m=8, ef_construction=40)
            self.hnsw.add(list(range(len(vecs))), vecs)

    # -- requests ----------------------------------------------------------

    def op(self) -> None:
        self._request(record=True)

    def after_op(self) -> None:
        pass

    def _request(self, record: bool) -> None:
        import pyarrow.flight as fl

        i = self.i % len(self.kinds)
        self.i += 1
        kind = KINDS[self.kinds[i]]
        ent = int(self.entities[i])
        qi = i % len(self.queries)
        q = self.queries[qi]
        rec = self.rec
        if kind == "serve":
            with rec.span("serving.server.serve"):
                out = self.fs.serve(SERVED, ent)
        elif kind == "set_if_newer":
            feature = SERVED[i % 4]
            value = float(i)
            with rec.span("serving.sqlite_store.set_if_newer"):
                self.store.set_if_newer(feature, ent, value, ts=i)
            out = ((feature, ent), value)
        elif kind in ("hnsw", "hnsw_filtered"):
            allow = self.allow_h if kind == "hnsw_filtered" else None
            with rec.span(f"serving.hnsw_index.{'filtered' if allow else 'query'}"):
                out = self.hnsw.query(q, k=K, ef=32, allow=allow)
        elif kind in ("ivf", "ivf_filtered"):
            allow = self.allow if kind == "ivf_filtered" else None
            with rec.span(f"serving.ann_index.{'filtered' if allow else 'query'}"):
                out = self.ivf.query(q.tolist(), k=K, nprobe=8, rerank=100, allow=allow)
        elif kind == "flight_get":
            out = self._flight_get()
        else:
            spec = (
                {"nearest": {"index": "ivf", "vector": q.tolist(), "k": K}}
                if kind == "flight_nearest"
                else {"vector_multi_get": {"index": "ivf", "vec_ids": self._multi_ids(ent)}}
            )
            ticket = fl.Ticket(json.dumps(spec).encode())
            with rec.span(f"serving.flight_server.{kind[len('flight_'):]}_rpc"):
                out = self.client.do_get(ticket).read_all()
        if record:
            self.log.append((i, out))

    def _multi_ids(self, ent: int) -> list[int]:
        return [(ent + j) % len(self.vecs) for j in range(8)]

    def _flight_get(self):
        import pyarrow.flight as fl

        ticket = fl.Ticket(json.dumps({"namespace": "ns", "table": "train"}).encode())
        rec = self.rec
        with rec.span("serving.flight_server.do_get"):
            t0 = time.perf_counter()
            reader = self.client.do_get(ticket)
            chunks = [reader.read_chunk().data]
            rec.add_sample("serving.flight_server.ttfb", time.perf_counter() - t0)
            while True:
                try:
                    chunks.append(reader.read_chunk().data)
                except StopIteration:
                    break
            rec.add_sample(
                "serving.flight_server.bytes", float(sum(c.nbytes for c in chunks))
            )
            rec.add_sample("serving.flight_server.batches", float(len(chunks)))
        return chunks

    # -- checks --------------------------------------------------------------

    def verify(self, checks) -> None:
        import pyarrow as pa

        from perfbench.check import digest

        expected = {}
        for f in gen.FEATURES:
            for e in set(int(self.entities[i]) for i, _ in self.log):
                expected[(f"{f}.default", e)] = float(self.values.at[e, f])
        # replay the warm-up writes too: they precede every logged request
        for i in range(WARMUP_REQUESTS):
            if KINDS[self.kinds[i]] == "set_if_newer":
                expected[(SERVED[i % 4], int(self.entities[i]))] = float(i)
        bad_serve = bad_nn = bad_flight = 0
        self.recall: dict[str, list[float]] = {k: [] for k in self.truth}
        for i, out in self.log:
            kind = KINDS[self.kinds[i]]
            ent = int(self.entities[i])
            if kind == "serve":
                want = [expected[(f, ent)] for f in SERVED[:4]]
                want.append(want[0] / (1.0 + want[1]))
                bad_serve += out != want
            elif kind == "set_if_newer":
                expected[out[0]] = out[1]
            elif kind in self.truth:
                allow = (
                    self.allow_h if kind == "hnsw_filtered" else self.allow if kind == "ivf_filtered" else None
                )
                ids = [vid for vid, _d in out]
                dists = [d for _vid, d in out]
                bad_nn += (
                    len(ids) != K
                    or dists != sorted(dists)
                    or (allow is not None and not set(ids) <= allow)
                )
                truth = set(self.truth[kind][i % len(self.queries)].tolist())
                self.recall[kind].append(len(truth & set(ids)) / K)
            elif kind == "flight_get":
                bad_flight += sum(c.num_rows for c in out) != self.flight_src.num_rows
            elif kind == "flight_multi_get":
                got = out.column("embedding").to_pylist()
                bad_flight += got != [self.ivf.get(v) for v in self._multi_ids(ent)]
            elif kind == "flight_nearest":
                q = self.queries[i % len(self.queries)]
                direct = self.ivf.query(q.tolist(), k=K, nprobe=8, rerank=100)
                bad_flight += out.column("vec_id").to_pylist() != [v for v, _ in direct]
        checks.expect("online_serving.serve_values", bad_serve == 0, f"{bad_serve} wrong")
        checks.expect("online_serving.nearest_well_formed", bad_nn == 0, f"{bad_nn} wrong")
        checks.expect("online_serving.flight_results", bad_flight == 0, f"{bad_flight} wrong")
        for kind, vals in self.recall.items():
            if vals:
                checks.expect(
                    f"online_serving.{kind}_recall_sane", np.mean(vals) >= 0.5, f"{np.mean(vals):.3f}"
                )
        last = next((out for i, out in reversed(self.log) if KINDS[self.kinds[i]] == "flight_get"), None)
        if last is not None:
            got = pa.Table.from_batches(last).to_pandas()
            checks.expect(
                "online_serving.flight_rows_equal_source",
                digest(got) == digest(self.flight_src.to_pandas()),
            )

    # -- metrics -------------------------------------------------------------

    def _us(self, name: str, q: float) -> float:
        vals = self.rec.samples.get(name, [])
        return percentile(vals, q) * 1e6 if vals else 0.0

    def _flight(self) -> tuple[float, float, int]:
        """(median time to first batch in ms, MB/s, number of do_get)."""
        s = self.rec.samples
        ttfb = s.get("serving.flight_server.ttfb", [])
        gets = s.get("serving.flight_server.do_get", [])
        mb = sum(s.get("serving.flight_server.bytes", [])) / 1e6
        return (median(ttfb) * 1e3 if ttfb else 0.0, mb / sum(gets) if gets else 0.0, len(gets))

    def report(self) -> list[tuple[str, float, str, int]]:
        s = self.rec.samples
        serve = s.get("serving.server.serve", [])
        nn = [
            t
            for name in (
                "serving.hnsw_index.query",
                "serving.hnsw_index.filtered",
                "serving.ann_index.query",
                "serving.ann_index.filtered",
            )
            for t in s.get(name, [])
        ]
        recall = [r for vals in self.recall.values() for r in vals]
        ttfb_ms, mb_per_s, n_gets = self._flight()
        lp, lv, ln = tail(serve)
        np_, nv, nn_ = tail(nn)
        return [
            ("lookup_p50_us", median(serve) * 1e6, "us", len(serve)),
            (f"lookup_p{lp:g}_us", lv * 1e6, "us", ln),
            ("nearest_p50_us", median(nn) * 1e6, "us", len(nn)),
            (f"nearest_p{np_:g}_us", nv * 1e6, "us", nn_),
            ("nearest_recall_at_10", float(np.mean(recall)), "ratio", len(recall)),
            ("flight_ttfb_ms", ttfb_ms, "ms", n_gets),
            ("flight_mb_per_s", mb_per_s, "MB/s", n_gets),
        ]

    def layer_metrics(self, samples, counters) -> dict[str, float]:
        out = {}
        for name in (
            "serving.server.serve",
            "serving.server.ondemand",
            "serving.sqlite_store.get",
            "serving.sqlite_store.set_if_newer",
            "serving.hnsw_index.query",
            "serving.ann_index.query",
        ):
            out[f"{name}.p50_us"] = self._us(name, 50)
            out[f"{name}.p99_us"] = self._us(name, 99)
        for ix, kind in (("hnsw_index", "hnsw"), ("ann_index", "ivf")):
            out[f"serving.{ix}.filtered_p50_us"] = self._us(f"serving.{ix}.filtered", 50)
            vals = self.recall[kind] + self.recall[kind + "_filtered"]
            out[f"serving.{ix}.recall_at_10"] = float(np.mean(vals)) if vals else 0.0
        out["serving.flight_server.ttfb_ms"], out["serving.flight_server.mb_per_s"], _ = self._flight()
        batches = samples.get("serving.flight_server.batches", [])
        out["serving.flight_server.batches"] = median(batches) if batches else 0.0
        out["serving.flight_server.nearest_rpc_p50_us"] = self._us("serving.flight_server.nearest_rpc", 50)
        out["serving.flight_server.multi_get_rpc_p50_us"] = self._us("serving.flight_server.multi_get_rpc", 50)
        return out

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.shutdown()
        if self.store is not None:
            self.store.close()
        if self.spark is not None:
            self.jvm_hwm_mb = stop_spark(self.spark)
            self.spark = None
