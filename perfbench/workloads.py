"""The benchmark's workloads.

``llm_curation`` runs registry queries over the seeded corpus, each one
built by ``spec.fn``, planned, and executed by collecting its rows.  Every
output is checked against the query's DuckDB oracle outside the timed
region.

``taxi_etl`` runs the reference's scheduled product path on seeded raw taxi
files: ingest, full pipeline build, the 37-check quality suite, ingest of
one new month, incremental build.  Each pass works in a fresh directory.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys
import time

import duckdb

from datagen import taxi_landing, write_corpus

#: Input sizes.  ``bench`` is what BENCHMARK.json runs; ``tiny`` is the
#: self-test scale (the sf0.001 corpus sizes, taxi n=2k).
SCALES = {
    "bench": {"documents": 1000, "embeddings": 1000, "events": 10_000, "taxi_n": 10_000},
    "tiny": {"documents": 500, "embeddings": 500, "events": 1_000, "taxi_n": 2_000},
}

#: llm_curation: near-duplicate detection and vector similarity queries,
#: chosen so that each layer is exercised by at least one of them: plain
#: MinHash signatures and LSH top-k over the corpus, eager fences and Arrow
#: Python workers inside ``spec.fn`` (dedup_phash_clusters), an index built
#: in ``spec.prepare`` and streaming micro-batches (the decontamination
#: gate).  The full dedup_*/similarity_* families do not fit the run budget
#: (README.md).
LLM_QUERIES = (
    "dedup_minhash_signatures",
    "dedup_phash_clusters",
    "similarity_topk_lsh",
    "streaming_decontamination_gate",
)


def _load_canon(root: str):
    """The canonicaliser of ``tools/check_oracles.py`` (order-insensitive,
    floats rounded to 9 digits).  That module prepends a path to
    ``sys.path`` on import; restore it so later imports still resolve to
    this checkout."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod._canon


class Workload:
    max_passes = 1000

    def __init__(self, scale: dict, seed: int, env, tracer, corrupt: str | None = None) -> None:
        self.scale = scale
        self.seed = seed
        self.env = env
        self.tracer = tracer
        self.corrupt = corrupt
        self.stream = None  # StreamListener of a traced run

    def op(self, spark, pass_idx: int, name: str, body, counters, check, quality: bool = False) -> dict:
        """Time one operation; check its output afterwards, untimed.

        In a traced pass the operation runs in its own job group, and the
        op span carries its codegen and status-store counters.  A streaming
        query runs its micro-batch jobs in a job group of its own (its
        runId), so those groups count toward the operation too."""
        tr = self.tracer
        op_id = f"{pass_idx}/{name}"
        tr.op_id = op_id
        sc = spark.sparkContext
        if tr.enabled:
            sc.setJobGroup(op_id, op_id)
            compiles0, _ = counters.compiles()
            if self.stream is not None:
                self.stream.run_ids.clear()
        record = {"name": name, "seconds": 0.0, "cpu_s": 0.0, "error": None, "layers": {}}
        holder: dict = {}
        out = None
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op") as sp:
                holder["op"] = sp
                out = body(holder)
        except Exception as exc:
            record["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        record["seconds"] = time.perf_counter() - t0
        record["cpu_s"] = self.cpu_s() - c0
        if tr.enabled:
            sc._jsc.clearJobGroup()
            compiles1, mean_ms = counters.compiles()
            jobs = self.op_jobs(counters, op_id)
            stats = counters.job_stats(jobs - holder.get("build_jobs", set()))
            sp = holder["op"]
            sp.counts.update(stats)
            sp.counts["compiles"] = compiles1 - compiles0
            sp.counts["compile_ms"] = (compiles1 - compiles0) * mean_ms
            if quality:
                sp.counts["quality"] = 1
            if "qe" in holder and holder.get("exec") is not None:
                from spans import python_plan_nodes

                holder["exec"].counts["python_nodes"] = python_plan_nodes(holder["qe"].executedPlan().toString())
            if self.stream is not None:
                self.stream.flush()
        tr.op_id = None
        if record["error"] is None:
            try:
                record["error"] = check(out, record)
            except Exception as exc:
                record["error"] = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]
        return record

    def op_jobs(self, counters, op_id: str) -> set[int]:
        """Jobs of the operation's job group and of the streaming queries
        it has started so far."""
        groups = [op_id, *(self.stream.run_ids if self.stream is not None else ())]
        return set().union(*(counters.jobs(g) for g in groups))

    def summary(self, passes: list[dict]) -> dict[str, float]:
        return {}

    def pass_metrics(self, p: dict) -> dict[str, float]:
        acc: dict[str, float] = {}
        for o in p["ops"]:
            for k, v in o["layers"].items():
                acc[k] = acc.get(k, 0.0) + v
        return acc


class LlmCuration(Workload):
    names = LLM_QUERIES

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        from lakehouse_platform_nyc_taxi_spark import harness

        reg = harness.registry()
        self.specs = {n: reg[n] for n in self.names}
        self.canon = _load_canon(self.env.root)
        self.expected: dict[str, tuple[list[str], list]] = {}
        self.data_dir = None

    def setup(self, spark) -> dict[str, float]:
        self.data_dir = self.env.dir("corpus")
        t0 = time.perf_counter()
        write_corpus(
            self.data_dir,
            self.seed,
            self.scale["documents"],
            self.scale["embeddings"],
            self.scale["events"],
        )
        t1 = time.perf_counter()
        # offline index builds: a deployment builds them once per corpus
        for spec in self.specs.values():
            if spec.prepare is not None:
                spec.prepare(spark, self.data_dir)
        return {"setup.datagen_s": t1 - t0, "harness.prepare_s": time.perf_counter() - t1}

    def run_pass(self, spark, pass_idx: int, rng, counters, stream) -> list[dict]:
        self.stream = stream
        order = [self.names[i] for i in rng.permutation(len(self.names))]
        return [self.query_op(spark, pass_idx, name, counters) for name in order]

    def query_op(self, spark, pass_idx: int, name: str, counters) -> dict:
        tr, spec = self.tracer, self.specs[name]
        op_id = f"{pass_idx}/{name}"

        def body(holder):
            with tr.span("harness.build") as b:
                if self.stream is not None:
                    self.stream.parent = tr.current()
                df = spec.fn(spark, self.data_dir)
                if b is not None:
                    holder["build_jobs"] = self.op_jobs(counters, op_id)
                    b.counts["jobs"] = len(holder["build_jobs"])
            with tr.span("catalyst.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            with tr.span("exec") as e:
                rows = df.collect()
            holder["qe"], holder["exec"] = qe, e
            return df.columns, [tuple(r) for r in rows]

        return self.op(spark, pass_idx, name, body, counters, lambda out, _rec: self.check(name, *out))

    def check(self, name: str, cols: list[str], rows: list) -> str | None:
        if name == self.corrupt:
            rows = rows[:-1]
        spec = self.specs[name]
        if spec.oracle is None:
            return None if rows else "no rows (query has no oracle)"
        if name not in self.expected:
            con = duckdb.connect()
            for t in ("documents", "embeddings", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            cur = con.execute(spec.oracle)
            ocols = [d[0] for d in cur.description]
            self.expected[name] = (ocols, self.canon(cur.fetchall(), ocols))
            con.close()
        ocols, orows = self.expected[name]
        if len(rows) != len(orows):
            return f"{len(rows)} rows, oracle has {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} differ from oracle {sorted(ocols)}"
        if self.canon(rows, cols) != orows:
            return "values differ from oracle"
        return None


#: new months generated in setup: the most passes a taxi_etl run can make
#: is one backfill pass plus one pass per new month
NEW_MONTHS = 2


class TaxiEtl(Workload):
    """Pass 0 is the first scheduled run in a fresh process: ingest the
    backfill, full pipeline build, quality suite.  Every later pass is the
    monthly run of a long-lived session: ingest one new month, incremental
    build, quality suite, into the same lake."""

    max_passes = 1 + NEW_MONTHS

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.batches: list[dict[str, str]] = []

    def setup(self, spark) -> dict[str, float]:
        t0 = time.perf_counter()
        self.batches = taxi_landing(self.env.dir("taxi", "landing"), self.seed, self.scale["taxi_n"], NEW_MONTHS)
        self.raw = {t: os.path.join(self.env.work, "taxi", "raw", t) for t in self.batches[0]}
        self.wh = os.path.join(self.env.work, "taxi", "warehouse")
        return {"setup.datagen_s": time.perf_counter() - t0}

    def run_pass(self, spark, pass_idx: int, rng, counters, stream) -> list[dict]:
        from lakehouse_platform_nyc_taxi_spark import pipeline
        from lakehouse_platform_nyc_taxi_spark.quality import assertions, taxi_assertion_suite
        from lakehouse_platform_nyc_taxi_spark.sources import writers

        self.stream = stream
        batch = self.batches[pass_idx]
        built: dict = {}

        def ingest(_holder):
            for table, src in batch.items():
                writers.append_partitioned(spark.read.parquet(src), self.raw[table])

        def build(_holder):
            result = pipeline.run_pipeline(spark, self.raw, self.wh)
            built.update(result.built)
            return result

        def dq(_holder):
            with self.tracer.span("quality.suite"):
                results = assertions.run_assertions(built, taxi_assertion_suite())
                results.append(assertions.positive_fare_threshold(built["fct_trips"]))
                results.append(assertions.valid_speed(built["fct_trips"]))
            return results

        names = ("ingest_backfill", "etl_full") if pass_idx == 0 else ("ingest_month", "etl_incremental")
        return [
            self.op(spark, pass_idx, names[0], ingest, counters, lambda _o, rec: self.check_ingest(pass_idx, rec)),
            self.op(spark, pass_idx, names[1], build, counters, lambda res, rec: self.check_build(pass_idx, res, rec)),
            self.op(spark, pass_idx, "dq_suite", dq, counters, self.check_dq, quality=True),
        ]

    # ---- output checks (untimed) ----------------------------------------

    def check_ingest(self, pass_idx: int, record: dict) -> str | None:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        record["layers"]["ingested_bytes"] = sum(os.path.getsize(p) for p in self.batches[pass_idx].values())
        for table, path in self.raw.items():
            want = sum(pq.ParquetFile(b[table]).metadata.num_rows for b in self.batches[: pass_idx + 1])
            got = ds.dataset(path, format="parquet", partitioning="hive").count_rows()
            if got != want:
                return f"raw {table}: {got} rows after ingest, expected {want}"
        return None

    def check_build(self, pass_idx: int, result, record: dict) -> str | None:
        """fct_trips_daily equals the DuckDB chain over every batch ingested
        so far, and fct_trips has exactly its row count, so the incremental
        re-run added no duplicate keys."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from lakehouse_platform_nyc_taxi_spark.catalog import layer_for_model

        for model, secs in result.timings.items():
            key = f"pipeline.{layer_for_model(model)}_s"
            record["layers"][key] = record["layers"].get(key, 0.0) + secs
        if not result.ok:
            return f"pipeline errors: {result.errors}"
        sys.path.insert(0, self.env.root)
        from tests import oracle_utils, taxi_oracle

        # the oracle reads one file per source: concatenate the batches so far
        paths = {}
        for table in self.raw:
            path = os.path.join(self.env.dir("taxi", "oracle", str(pass_idx)), f"{table}.parquet")
            pq.write_table(pa.concat_tables(pq.read_table(b[table]) for b in self.batches[: pass_idx + 1]), path)
            paths[table] = path
        con = duckdb.connect()
        daily = con.sql(taxi_oracle.fct_trips_daily_sql(paths)).df()
        trips = con.sql(f"SELECT count(*) FROM ({taxi_oracle.fct_trips_sql(paths)})").fetchone()[0]
        con.close()
        got = ds.dataset(os.path.join(self.wh, "fct_trips_daily"), format="parquet").to_table().to_pandas()
        try:
            oracle_utils.compare_frames(got.drop(columns=["created_at"]), daily, name="fct_trips_daily")
        except AssertionError as exc:
            return f"fct_trips_daily differs from the DuckDB chain: {str(exc)[:200]}"
        n = ds.dataset(os.path.join(self.wh, "fct_trips"), format="parquet", partitioning="hive").count_rows()
        if n != trips:
            return f"fct_trips has {n} rows, the DuckDB chain {trips} (duplicate keys from the re-run?)"
        return None

    def check_dq(self, results, _record: dict) -> str | None:
        failing = [r.name for r in results if not r.passed]
        if len(results) != 37:
            return f"{len(results)} checks ran, expected 37"
        return f"failing checks: {failing}" if failing else None

    # ---- reporting -------------------------------------------------------

    @staticmethod
    def _step_median(passes: list[dict], step: str) -> float:
        vals = [o["seconds"] for p in passes for o in p["ops"] if o["name"] == step]
        return statistics.median(vals) if vals else 0.0

    def summary(self, passes: list[dict]) -> dict[str, float]:
        warm = [p for p in passes[1:] if not p["traced"]]
        return {
            "etl_full_s": self._step_median(passes[:1], "etl_full"),
            "etl_incremental_s": self._step_median(warm, "etl_incremental"),
            "dq_suite_s": self._step_median(passes, "dq_suite"),
        }

    def pass_metrics(self, p: dict) -> dict[str, float]:
        acc = super().pass_metrics(p)
        for step in ("etl_full", "etl_incremental", "dq_suite"):
            acc[f"step.{step}_s"] = self._step_median([p], step)
        return acc


WORKLOADS = {"llm_curation": LlmCuration, "taxi_etl": TaxiEtl}
