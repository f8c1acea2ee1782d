"""The training-data stage of ``batch_pipeline``: the four generated
query patterns over Zipf-skewed event tables registered through the
Registry.

One pass: materialize every feature, build the point-in-time training
set (a lagged feature and a second entity), align batch features,
split exactly, and publish a static training set.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.workloads.common import Part, timed_call, write_parquet

SIZES = {
    "full": {
        "users": 5_000,
        "items": 500,
        "user_events": 50_000,
        "item_events": 10_000,
        "labels": 8_000,
        "zipf_s": 0.99,
    },
    "tiny": {
        "users": 200,
        "items": 40,
        "user_events": 3_000,
        "item_events": 600,
        "labels": 400,
        "zipf_s": 0.99,
    },
}

USER_FEATURES = ("f_amount.default", "f_score.default")
FEATURES = USER_FEATURES + ("f_price.default",)
TEST_FRACTION = 0.2
CALLS = (
    "operators.materialize",
    "operators.training_set",
    "operators.batch_features",
    "operators.split",
    "sources.writers.write_versioned",
)

ORACLE_TS = """
SELECT DISTINCT l.user_id AS entity,
       a.v AS f_amount_default,
       s.v AS f_score_default,
       p.v AS f_price_default,
       g.v AS f_amount_default_lag_3600s,
       l.label AS label,
       l.ts AS label_ts
FROM labels l
ASOF LEFT JOIN (SELECT user_id AS e, amount AS v, ts FROM user_events) a
  ON l.user_id = a.e AND l.ts >= a.ts
ASOF LEFT JOIN (SELECT user_id AS e, score AS v, ts FROM user_events) s
  ON l.user_id = s.e AND l.ts >= s.ts
ASOF LEFT JOIN (SELECT item_id AS e, price AS v, ts FROM item_events) p
  ON l.item_id = p.e AND l.ts >= p.ts
ASOF LEFT JOIN (SELECT user_id AS e, amount AS v,
                       ts + INTERVAL 3600 SECOND AS ts FROM user_events) g
  ON l.user_id = g.e AND l.ts >= g.ts
"""

ORACLE_MAT = {
    "f_amount.default": "SELECT user_id AS entity, arg_max(amount, ts) AS value,"
    " max(ts) AS ts FROM user_events GROUP BY user_id",
    "f_score.default": "SELECT user_id AS entity, arg_max(score, ts) AS value,"
    " max(ts) AS ts FROM user_events GROUP BY user_id",
    "f_price.default": "SELECT item_id AS entity, arg_max(price, ts) AS value,"
    " max(ts) AS ts FROM item_events GROUP BY item_id",
}

ORACLE_BATCH = """
SELECT user_id AS entity, arg_max(amount, ts) AS f_amount_default,
       arg_max(score, ts) AS f_score_default
FROM user_events GROUP BY user_id
"""


class PitTraining(Part):
    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        super().__init__(rec, seed, sz, run_dir)
        self.data_dir = os.path.join(run_dir, "pit")
        self.out_dir = os.path.join(run_dir, "training_sets")

    def generate(self) -> None:
        self.paths = write_parquet(gen.pit_inputs(self.seed, self.sz), self.data_dir)

    def register(self, spark) -> None:
        from featureform_spark.plans.engine import Engine
        from featureform_spark.registry import (
            FeatureVariant,
            LabelVariant,
            Registry,
            TrainingSetVariant,
        )

        rec = self.rec
        with rec.span("registry.register"):
            reg = Registry()
            for name, path in self.paths.items():
                reg.register_file(name, path, timestamp_column="ts")
            for fname, src, ent, col, val in (
                ("f_amount", "user_events", "user", "user_id", "amount"),
                ("f_score", "user_events", "user", "user_id", "score"),
                ("f_price", "item_events", "item", "item_id", "price"),
            ):
                reg.register(
                    FeatureVariant(
                        name=fname,
                        source=f"{src}.default",
                        entity=ent,
                        entity_column=col,
                        value_column=val,
                        timestamp_column="ts",
                    )
                )
            reg.register(
                LabelVariant(
                    name="converted",
                    source="labels.default",
                    entity="user",
                    entity_column="user_id",
                    entity_mappings=[
                        {"entity": "user", "column": "user_id"},
                        {"entity": "item", "column": "item_id"},
                    ],
                    value_column="label",
                    timestamp_column="ts",
                )
            )
            reg.register(
                TrainingSetVariant(
                    name="conversion",
                    label="converted.default",
                    features=list(FEATURES),
                    lag_features=[
                        {"feature": "f_amount.default", "lag_seconds": 3600.0}
                    ],
                    ts_type="static",
                )
            )
        self.engine = Engine(spark, reg)
        with rec.span("plans.engine.source_df"):
            for name in self.paths:
                self.engine.source_df(f"{name}.default")

    def op(self) -> None:
        from featureform_spark.operators.split import train_test_split_exact

        eng, rec, out = self.engine, self.rec, {}
        for ref in FEATURES:
            _, out[ref] = timed_call(
                rec, "operators.materialize", lambda: eng.materialize(ref)
            )
        # cached, so the split below times the split and not a second PIT
        ts, out["training_set"] = timed_call(
            rec, "operators.training_set", lambda: eng.training_set("conversion").cache()
        )
        _, out["batch_features"] = timed_call(
            rec, "operators.batch_features", lambda: eng.batch_features(USER_FEATURES)
        )
        _, out["split"] = timed_call(
            rec,
            "operators.split",
            lambda: train_test_split_exact(
                ts, ["entity", "label_ts"], TEST_FRACTION, seed=self.seed
            ),
        )
        ts.unpersist()
        _, out["static"] = timed_call(
            rec,
            "sources.writers.write_versioned",
            lambda: eng.create_training_set("conversion", self.out_dir),
        )
        self.last = out

    def verify(self, checks) -> None:
        """Compare the last pass's outputs with a DuckDB oracle over the
        same parquet inputs."""
        import duckdb

        out = self.last
        con = duckdb.connect()
        try:
            for name, path in self.paths.items():
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            want_ts = con.execute(ORACLE_TS).df()
            checks.same("pit.training_set", out["training_set"], want_ts)
            checks.same("pit.static_training_set", out["static"], want_ts)
            for ref, sql in ORACLE_MAT.items():
                checks.same(
                    f"pit.materialize[{ref}]", out[ref], con.execute(sql).df()
                )
            checks.same(
                "pit.batch_features",
                out["batch_features"],
                con.execute(ORACLE_BATCH).df(),
            )
        finally:
            con.close()
        split = out["split"]
        total = len(want_ts)
        n_test = int((split["is_test"] == 1).sum())
        checks.expect(
            "pit.split_exact",
            len(split) == total and n_test == int(total * TEST_FRACTION),
            f"{n_test} test rows of {len(split)}",
        )
