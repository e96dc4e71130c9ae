"""The benchmark workloads, built only from the program's public calls.

Each workload has an untraced repetition (``rep``), timed by the runner,
and a traced twin (``traced_rep``) in which every layer's call is forced
by its own action inside a span. Both return the output observation
(row count plus an order-independent fingerprint, collected with
``DataFrame.observe`` in the same pass as the sink), which the runner
checks.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluvio_jolt_spark.operators.asof import asof_join
from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec
from fluvio_jolt_spark.operators.skew import with_turn_features_salted
from fluvio_jolt_spark.plans.checkpoint import BUCKET_COL, CheckpointedRun
from fluvio_jolt_spark.sources.tables import suggest_bucket_count
from fluvio_jolt_spark.sources.transcripts import read_transcripts

SESSION_GAP_S = 1800
# jobs/run_features.py defaults to 8192-row chunks at 600k turns, where the
# mega-conversation (3% of turns) spans several chunks. About the same
# ratio at feature_job's 10k turns keeps the salted skew path splitting it.
CHUNK_ROWS = 128
# run_features.py --layout auto picks the bucketed layout from this size up
BUCKETED_THRESHOLD = 2_000_000

BENCH_SPEC = reference_bench_spec()
# Glob lane: '*', '&', '&(1,0)', '@', '$' and '[]' over the whole payload,
# including the friends array; the bench spec takes the exact-key lane.
WILDCARD_SPEC = json.dumps([{
    "operation": "shift",
    "spec": {
        "friends": {"*": {
            "name": "friend_names[]",
            "id": "friend_ids.&(1,0)",
            "$": "friend_keys.&(1,0)[]",
        }},
        "name": {"$": "person.key", "@": "person.&(1,0)"},
        "*": "fields.&",
    },
}])

CORPUS_QUERIES = (
    "hard_negatives", "label_agreement", "dup_cluster_sizes",
    "embedding_near_dup", "lsh_jaccard_near_dup", "span_dup_stats",
    "unigram_logprob", "bigram_quality",
)


def observed(df: DataFrame, *extra) -> tuple[DataFrame, Observation]:
    """Attach rows, a fingerprint and ``extra`` aggregates to ``df``'s
    next action. The fingerprint is the sum of a 64-bit hash per row over
    every column, doubles rounded to 6 places, so it does not depend on
    row order or partitioning."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x, 6))
        cols.append(c)
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("fp"),
        *extra,
    )
    return df, obs


def _result(obs: Observation) -> dict:
    out = dict(obs.get)
    out["fp"] = f"{int(out['rows'])}:{int(out['fp']) % (1 << 64):016x}"
    return out


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _force(df: DataFrame) -> DataFrame:
    """Run ``df`` now and cut its lineage, so the next layer's span holds
    only the next layer's work."""
    return df.localCheckpoint(eager=True)


class Workload:
    """What the runner calls; ``rep``, ``traced_rep`` and ``expected`` are
    each workload's own."""

    rows_label = "turns"
    n = 0  # input rows per repetition
    warmups = 1  # untimed repetitions inside set-up

    def prepare(self) -> None:
        """Untimed work before each repetition."""

    def final_check(self) -> list[str]:
        """Checks made once, after the timed loop; returns problems."""
        return []

    def close(self) -> None:
        """Remove what the repetitions left on disk."""


class _Transcripts(Workload):
    """Shared input of the transcript workloads."""

    # After one warm-up, the first timed repetition was still 15-45%
    # slower than the next; a corpus pass is long enough to warm up in one.
    warmups = 2

    def __init__(self, spark, inputs: dict):
        self.spark = spark
        self.n = inputs["n_turns"]
        self.turns, self.snaps = read_transcripts(
            spark, self.n, cache_dir=inputs["cache"], seed=inputs["seed"]
        )

    def expected(self, res: dict) -> list[str]:
        return [] if res["rows"] == self.n else [f"rows {res['rows']} != {self.n}"]


class FeatureJob(_Transcripts):
    """jobs/run_features.py's checkpointed layout, call for call."""

    def __init__(self, spark, inputs: dict):
        super().__init__(spark, inputs)
        self.out_root = Path(inputs["work"]) / "out" / "feature_job"
        self.k = 0

    def prepare(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.k += 1
        self.out = self.out_root / f"rep{self.k}"

    def _buckets(self) -> int:
        # run_features.py --layout auto: a footer-statistics count decides
        # the layout and the bucket count
        n_est = self.turns.count()
        if n_est >= BUCKETED_THRESHOLD:
            raise ValueError("input is in the bucketed layout's range")
        return suggest_bucket_count(
            n_est, min_tasks=self.spark.sparkContext.defaultParallelism
        )

    def _run(self, n_buckets: int, layers) -> dict:
        box = {}

        def pipeline(df: DataFrame) -> DataFrame:
            feats, payload = layers(df)
            out, box["obs"] = observed(
                feats.join(payload, ["conv_id", "turn_idx"]),
                F.count("text_error").alias("dead_letters"),
                F.count_if(F.col("attr_value").isNull()).alias("null_snapshots"),
            )
            return out

        lineage = {
            "job": "run_features",
            "spec_sha": hashlib.sha256(BENCH_SPEC.encode()).hexdigest()[:16],
            "chunk_rows": CHUNK_ROWS,
            "session_gap_s": SESSION_GAP_S,
        }
        run = CheckpointedRun(str(self.out), n_buckets=n_buckets, lineage=lineage)
        report = run.run(self.turns, pipeline)
        res = _result(box["obs"])
        res.update(rows_in=report["rows_in"], rows_out=report["rows_out"])
        return res

    def _features(self, df: DataFrame) -> DataFrame:
        return with_turn_features_salted(
            df.select("conv_id", "turn_idx", "role", "tool", "ts", BUCKET_COL),
            chunk_rows=CHUNK_ROWS,
            session_gap_s=SESSION_GAP_S,
        )

    def rep(self) -> dict:
        def layers(df):
            feats = asof_join(self._features(df), self.snaps, on="ts",
                              right_on="snap_ts", by="conv_id")
            payload = jolt_reshape(df.select("conv_id", "turn_idx", "text"),
                                   BENCH_SPEC, columns="text")
            return feats, payload

        return self._run(self._buckets(), layers)

    def traced_rep(self, tr) -> dict:
        with tr.span("sources"):
            n_buckets = self._buckets()

        def layers(df):
            with tr.span("window"):
                feats = _force(self._features(df))
            with tr.span("asof"):
                feats = _force(asof_join(feats, self.snaps, on="ts",
                                         right_on="snap_ts", by="conv_id"))
            with tr.span("reshape"):
                payload = _force(jolt_reshape(
                    df.select("conv_id", "turn_idx", "text"), BENCH_SPEC, columns="text"))
            # the write and the read-back count run inside CheckpointedRun
            tr.begin("sink")
            return feats, payload

        with tr.span("checkpoint"):
            res = self._run(n_buckets, layers)
            tr.finish()
        return res

    def expected(self, res: dict) -> list[str]:
        bad = super().expected(res)
        if not res["rows_in"] == res["rows_out"] == self.n:
            bad.append(f"rows_in {res['rows_in']} rows_out {res['rows_out']} n {self.n}")
        if res["dead_letters"]:
            bad.append(f"{res['dead_letters']} dead-letter rows")
        return bad

    def output_files(self) -> list[Path]:
        return list((self.out / "data").rglob("*.parquet"))

    def close(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)


class Reshape(_Transcripts):
    """The Jolt stage alone: the bench spec, then the wildcard spec."""

    def _source(self) -> DataFrame:
        # a new DataFrame per call: an action on a reused one reuses its
        # executed plan, whose scan then reports no driver-side metrics
        return self.turns.select("conv_id", "turn_idx", "text")

    def _bench(self, df: DataFrame) -> DataFrame:
        out = jolt_reshape(df, BENCH_SPEC, columns="text", suffix="_bench")
        return out.withColumnRenamed("text_error", "text_bench_error")

    def _wildcard(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        out = jolt_reshape(df, WILDCARD_SPEC, columns="text", suffix="_wild")
        return observed(
            out,
            (F.count("text_bench_error") + F.count("text_error")).alias("dead_letters"),
        )

    def output(self) -> DataFrame:
        return self._wildcard(self._bench(self._source()))[0]

    def rep(self) -> dict:
        out, obs = self._wildcard(self._bench(self._source()))
        _noop(out)
        return _result(obs)

    def traced_rep(self, tr) -> dict:
        with tr.span("sources"):
            src = _force(self._source())
        with tr.span("reshape"):
            mid = _force(self._bench(src))
        with tr.span("reshape"):
            out, obs = self._wildcard(mid)
            _noop(out)
        return _result(obs)

    def expected(self, res: dict) -> list[str]:
        bad = super().expected(res)
        if res["dead_letters"]:
            bad.append(f"{res['dead_letters']} dead-letter rows")
        return bad

    def final_check(self) -> list[str]:
        """A fixed sample of output rows is byte-equal to the pure-Python
        engine (jolt.transform_json) on both specs."""
        from fluvio_jolt_spark.jolt.transform import transform_json

        rows = (
            self.output()
            .filter(F.xxhash64("conv_id", "turn_idx") % 64 == 0)
            .select("text", "text_bench", "text_wild")
            .collect()
        )
        bad = [
            r.text for r in rows
            if r.text_bench != transform_json(r.text, BENCH_SPEC)
            or r.text_wild != transform_json(r.text, WILDCARD_SPEC)
        ]
        if not rows:
            return ["byte-equality sample is empty"]
        return [f"{len(bad)} of {len(rows)} sampled rows differ from transform_json"] if bad else []


class Corpus(Workload):
    """Eight registry queries over the documents and embeddings tables."""

    rows_label = "documents+vectors"

    def __init__(self, spark, inputs: dict):
        import __spark_entry__

        self.spark = spark
        self.dir = str(inputs["corpus_dir"])
        self.n = inputs["n_docs"] + inputs["n_vecs"]
        registry = __spark_entry__.queries()
        self.queries = {q: registry[q] for q in CORPUS_QUERIES}

    def _query(self, name: str) -> dict:
        out, obs = observed(self.queries[name](self.spark, self.dir))
        _noop(out)
        return _result(obs)

    def _combine(self, per_query: dict) -> dict:
        rows = sum(int(r["rows"]) for r in per_query.values())
        fp = sum(int(r["fp"].split(":")[1], 16) for r in per_query.values()) % (1 << 64)
        return {"rows": rows, "fp": f"{rows}:{fp:016x}",
                "per_query": {q: r["fp"] for q, r in per_query.items()}}

    def rep(self) -> dict:
        return self._combine({q: self._query(q) for q in self.queries})

    def traced_rep(self, tr) -> dict:
        per_query = {}
        for q in self.queries:
            with tr.span(f"corpus.{q}"):
                per_query[q] = self._query(q)
        return self._combine(per_query)

    def expected(self, res: dict) -> list[str]:
        empty = [q for q, fp in res["per_query"].items() if fp.startswith("0:")]
        return [f"empty result: {', '.join(empty)}"] if empty else []


WORKLOADS = {
    "feature_job": FeatureJob,
    "reshape": Reshape,
    "corpus": Corpus,
}
