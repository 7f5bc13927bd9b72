"""The benchmark's workloads: each is one public pipeline call per pass, an
output check, and a traced variant that splits the pass into layers by
timing calls into the same public functions from outside."""

from __future__ import annotations

import inspect
import json
import os
import shutil

from inputs import EXPECTED_TYPES, SYNTH_COLUMNS, write_corpus, write_customers_csv
from sparkstat import SparkTracer, spans_between


def _hash_rows(frame):
    """(row count, order-independent hash of every column rendered as text)."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in frame.columns]
    row = frame.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Workload:
    """One input set and the call a user makes on it. Subclasses define
    ``rows`` (rows delivered per pass), ``layers`` (traced layer names),
    ``prepare``, ``run`` and ``check``."""

    rows: int
    layers: tuple[str, ...]

    def __init__(self, workdir: str, seed: int) -> None:
        self.seed = seed
        self.out = os.path.join(workdir, "out")
        self._first_digest: tuple | None = None

    def same_as_first(self, digest: tuple) -> list[str]:
        if self._first_digest is None:
            self._first_digest = digest
            return []
        if digest != self._first_digest:
            return [f"output {digest} differs from the first pass's {self._first_digest}"]
        return []

    @staticmethod
    def cols_ok_ratio(result) -> float:
        """Share of validated columns without an error entry. A workload
        that validates nothing has no failed column: 1.0."""
        return 1.0

    def reset(self, spark) -> None:
        """Between passes, outside any timing: drop caches and the sink
        output, then run both garbage collectors."""
        import gc

        spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)
        gc.collect()
        spark._jvm.System.gc()


class Synth(Workload):
    """``run_reference_pipeline`` on a customer CSV, written to the CSV sink."""

    layers = ("io.csv_scan", "profile", "generate", "validate", "io.csv_sink")

    def __init__(self, workdir: str, seed: int, n_rows: int, n_samples: int) -> None:
        super().__init__(workdir, seed)
        self.n_rows = n_rows
        self.rows = n_samples
        self.csv = os.path.join(workdir, "customers.csv")
        self.profile_json = os.path.join(workdir, "profile.json")

    def prepare(self) -> None:
        write_customers_csv(self.csv, self.n_rows, self.seed)

    def run(self, spark, tracer: SparkTracer | None = None, spans: list | None = None):
        from etl_processes_spark.pipeline import run_reference_pipeline

        if tracer is None:
            synthetic, validation, _ = run_reference_pipeline(
                spark, self.csv, output_csv=self.out,
                profile_json=self.profile_json, n_samples=self.rows,
            )
            return synthetic, validation
        return self._run_traced(spark, tracer, spans)

    def _run_traced(self, spark, tracer: SparkTracer, spans: list):
        """The calls ``run_reference_pipeline`` makes, in its order and with
        its defaults, each timed as a layer. One count() after
        ``generate(...).persist()`` keeps generation out of ``validate``."""
        from etl_processes_spark.generate import generate
        from etl_processes_spark.io import csv_scan, csv_sink, profile_sink, report_sink
        from etl_processes_spark.pipeline import run_reference_pipeline
        from etl_processes_spark.profile import profile
        from etl_processes_spark.validate import validate

        defaults = {
            k: p.default for k, p in inspect.signature(run_reference_pipeline).parameters.items()
        }
        with tracer.layer(spans, "io.csv_scan"):
            df = csv_scan(spark, self.csv)
        with tracer.layer(spans, "profile"):
            profiles = profile(
                df, sample_rows=defaults["sample_rows"],
                deterministic=defaults["deterministic"], sample_key=defaults["sample_key"],
            )
        with tracer.layer(spans, "generate"):
            synthetic = generate(spark, profiles, self.rows, seed=defaults["seed"]).persist()
            synthetic.count()
        with tracer.layer(spans, "validate"):
            validation = validate(profiles, synthetic)
        report_sink(profiles, validation)
        profile_sink(profiles, self.profile_json)
        with tracer.layer(spans, "io.csv_sink"):
            csv_sink(synthetic, self.out)
        return synthetic, validation

    def check(self, spark, result) -> list[str]:
        _, validation = result
        problems = [f"validate error on {c}: {v['error']}" for c, v in validation.items() if "error" in v]
        with open(self.profile_json) as f:
            types = {c: p["logical_type"] for c, p in json.load(f).items()}
        want = {c: EXPECTED_TYPES[c] for c in SYNTH_COLUMNS}
        if types != want:
            problems.append(f"inferred types {types} != {want}")
        written = (
            spark.read.option("multiLine", True).option("escape", '"')
            .csv(self.out, header=True)
        )
        if written.columns != list(SYNTH_COLUMNS):
            problems.append(f"columns {written.columns} != {list(SYNTH_COLUMNS)}")
        n, h = _hash_rows(written)
        if n != self.rows:
            problems.append(f"{n} rows written, {self.rows} asked for")
        return problems + self.same_as_first((n, h))

    @staticmethod
    def cols_ok_ratio(result) -> float:
        validation = result[1]
        return sum("error" not in v for v in validation.values()) / max(len(validation), 1)


# the heavy composition of __spark_entry__.c_e2e_training_pipeline_full:
# span dedup, cluster dedup, SemDeDup, PII scrub, scoring and packing
CURATE_CONFIG = dict(
    min_quality=0.0, langs=("en", "zh", "es", "fr", "de"), pack_budget=2048,
    near_dup_threshold=0.5, max_df=500, scrub_pii=True,
    span_dedup_k=5, span_dedup_min_df=2, semantic_threshold=0.95,
)
# pipeline stage_hook names -> layer names
CURATE_STAGES = {
    "span_dedup": "dedup.span",
    "cluster_dedup": "dedup.cluster",
    "semantic_dedup": "similarity.semantic",
    "score_filter": "textstats.score_filter",
    "pack": "pack",
}


class Curate(Workload):
    """``run_training_data_pipeline`` over a generated document corpus with
    its embeddings, written to the parquet sink."""

    layers = (*CURATE_STAGES.values(), "io.parquet_sink")

    def __init__(self, workdir: str, seed: int, scale: float) -> None:
        super().__init__(workdir, seed)
        self.scale = scale
        self.rows = int(50_000 * scale)
        self.corpus = os.path.join(workdir, "corpus")

    def prepare(self) -> None:
        write_corpus(self.corpus, self.scale, self.seed)

    def run(self, spark, tracer: SparkTracer | None = None, spans: list | None = None):
        """Untraced, the pipeline manages its own storage (its default with
        no hook). Traced, a hook that only records a mark is passed with
        ``manage_storage=True``, so the plan is the same."""
        from pyspark.sql import functions as F

        from etl_processes_spark.io import parquet_sink
        from etl_processes_spark.pipeline import run_training_data_pipeline

        docs = spark.read.parquet(os.path.join(self.corpus, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(self.corpus, "embeddings.parquet")).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        hook_kw = {}
        if tracer is not None:
            names, marks = [], [tracer.mark()]

            def hook(stage, frame):
                marks.append(tracer.mark())
                names.append(CURATE_STAGES.get(stage, f"stage.{stage}"))
                return frame

            hook_kw = dict(stage_hook=hook, manage_storage=True)
        out = run_training_data_pipeline(
            spark, docs, semantic_embeddings=emb, **CURATE_CONFIG, **hook_kw
        )
        parquet_sink(out, self.out)
        if tracer is not None:
            marks.append(tracer.mark())
            spans.extend(spans_between([*names, "io.parquet_sink"], marks))
        return None

    def check(self, spark, result) -> list[str]:
        from pyspark.sql import functions as F

        written = spark.read.parquet(self.out)
        n, h = _hash_rows(written)
        problems = []
        if not 0 < n <= self.rows:
            problems.append(f"{n} rows out of {self.rows} input documents")
        ids, lo, hi = written.agg(
            F.countDistinct("doc_id"), F.min("offset_in_bin"), F.max("offset_in_bin")
        ).collect()[0]
        if ids != n:
            problems.append(f"doc_id not unique: {ids} distinct of {n}")
        # pack_documents bins greedily on cumulative tokens: a document goes to
        # bin floor(tokens_before / budget), so only the document straddling a
        # boundary may overflow its bin, and every document starts inside it
        if n and not 0 <= lo <= hi < CURATE_CONFIG["pack_budget"]:
            problems.append(f"offset_in_bin spans [{lo}, {hi}], outside [0, pack_budget)")
        return problems + self.same_as_first((n, h))


# Sizes fit a run into about a minute on a 4-CPU host: passes cost per Spark
# job, not per row (NOTES.md, "Why two workloads, and why so small").
SYNTH_ROWS = 20_000
SYNTH_SAMPLES = 5_000
CURATE_SCALE = 0.02
ALL_LAYERS = Synth.layers + Curate.layers


def make(name: str, workdir: str, seed: int) -> Workload:
    if name == "synth":
        return Synth(workdir, seed, n_rows=SYNTH_ROWS, n_samples=SYNTH_SAMPLES)
    if name == "curate_corpus":
        return Curate(workdir, seed, scale=CURATE_SCALE)
    raise ValueError(f"unknown workload {name!r}")
