"""The benchmark's three workloads.

Each workload drives the engine's public layer functions on inputs the
generator wrote, one operation (a pass or a day) at a time:

- ``prepare``  writes the inputs (before Spark starts, not timed);
- ``warmup``   runs untimed operations so JIT and code generation settle;
- ``op``       runs one timed operation and returns the input rows it
               consumed, or None when the inputs are exhausted;
- ``capture``  saves what the checks need, outside the timed region;
- ``check``    compares every operation's output with the DuckDB oracle,
               after the timed region, and returns one verdict per op;
- ``patches``  names the calls a traced operation records spans around;
- ``layer_metrics`` turns the spans of the traced operations into the
               per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb

from perfbench import gen

LOOKBACK_DAYS = 30


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if f.endswith(".parquet"))
    return total


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def _oracles() -> dict[str, str]:
    import oracles

    return oracles.oracle_sql()


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


class Workload:
    name = ""

    def __init__(self, spark, tracer, scratch: str, inputs: str, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.inputs = inputs
        self.size = self.SIZES[scale]
        # op index -> span run id of the traced operations
        self.traced_ops: dict[int, str] = {}
        # streaming query run id -> phase, for queries whose jobs the
        # streaming engine runs under its own job group
        self.run_ids: dict[str, str] = {}

    def capture(self, i: int) -> None:
        pass

    def dataframe_class(self):
        """The concrete DataFrame class of this session, whose methods
        the wrappers replace (it overrides the abstract base's)."""
        return type(self.spark.range(1))


# ---------------------------------------------------------------------------
# batch_attribution
# ---------------------------------------------------------------------------


class BatchAttribution(Workload):
    """Staged IHC pipeline passes over the whole event window."""

    name = "batch_attribution"
    # the first timed pass is still 20-40% slower than the next, but a run
    # fits four or more, so it sits above their median; a second warm-up
    # pass would cost 4-5 s of every run
    WARMUP_PASSES = 1
    SIZES = {
        "full": {"events": 20_000, "users": 500, "days": 60},
        "tiny": {"events": 3_000, "users": 100, "days": 60},
    }

    @classmethod
    def prepare(cls, inputs: str, seed: int, scale: str) -> dict:
        return gen.write_events(inputs, seed, **cls.SIZES[scale])

    def _pass(self, out_dir: str, tracer=None):
        """One pass from a cold events cache.  A traced pass materialises
        the cache first, in its own span, to split the scan off the J1
        stage it is otherwise fused into."""
        from marketing_attribution_etl_framework__maef_spark import domain
        from marketing_attribution_etl_framework__maef_spark.plans.pipeline import (
            AttributionPipeline,
            PipelineConfig,
        )

        domain.clear_events_cache()
        if tracer is not None:
            with tracer.span("domain.scan") as sp:
                sp.attrs["rows"] = domain.events(self.spark, self.window).count()
        pipe = AttributionPipeline(self.spark, self.window, PipelineConfig(model="ihc"))
        return pipe.run_staged(out_dir)

    def setup(self) -> None:
        self.window = os.path.join(self.inputs, "window")
        self.stage_root = os.path.join(self.scratch, "stage")

    def warmup(self) -> None:
        for k in range(self.WARMUP_PASSES):
            self._pass(os.path.join(self.stage_root, f"warmup-{k}"))

    def op(self, i: int, tracer=None) -> int | None:
        self._pass(os.path.join(self.stage_root, f"pass-{i}"), tracer)
        return self.size["events"]

    def patches(self):
        from pyspark.sql import DataFrameWriter

        from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
        from marketing_attribution_etl_framework__maef_spark.operators import reporting as rpt
        from marketing_attribution_etl_framework__maef_spark.plans.pipeline import AttributionPipeline

        exec_names = {"journeys": "journeys.exec", "attribution": "attribution.exec", "report": "reporting.exec"}

        def write_name(tr, args, kwargs):
            path = args[1] if len(args) > 1 else kwargs.get("path", "")
            return exec_names.get(os.path.basename(os.path.normpath(path)), "io.write")

        def check_name(tr, args, kwargs):
            cur = tr.current()
            return "pipeline.check" if cur is not None and cur.name == "pipeline.run" else None

        return [
            (AttributionPipeline, "run_staged", "pipeline.run"),
            (AttributionPipeline, "journeys", "journeys.plan"),
            (attr, "attribute", "attribution.plan"),
            (rpt, "channel_report", "reporting.plan"),
            (rpt, "export_report", "reporting.plan"),
            (DataFrameWriter, "parquet", write_name),
            (self.dataframe_class(), "count", check_name),
            (self.dataframe_class(), "first", check_name),
        ]

    def check(self, n_ops: int) -> tuple[list[bool], list[str]]:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.window}/events.parquet')")
        con.execute(f"CREATE TABLE expected AS {_oracles()['maef_attribution_ihc']}")
        n_expected = con.execute("SELECT count(*) FROM expected").fetchone()[0]
        verdicts, notes = [], []
        self.rows_out = {}
        for i in range(n_ops):
            stage = os.path.join(self.stage_root, f"pass-{i}")
            try:
                con.execute(
                    "CREATE OR REPLACE VIEW got AS SELECT conv_id, session_id, ihc "
                    f"FROM read_parquet('{_parquet_glob(os.path.join(stage, 'attribution'))}')"
                )
                n_got, n_keys = con.execute("SELECT count(*), count(DISTINCT (conv_id, session_id)) FROM got").fetchone()
                diff = con.execute(
                    "SELECT count(*) FROM expected e FULL OUTER JOIN got g USING (conv_id, session_id) "
                    "WHERE e.ihc_q20 IS DISTINCT FROM CAST(floor(g.ihc * 1048576.0 + 0.5) AS BIGINT)"
                ).fetchone()[0]
                bad_sum = con.execute(
                    "SELECT count(*) FROM (SELECT conv_id, sum(ihc) AS s FROM got GROUP BY 1) WHERE abs(s - 1.0) > 1e-9"
                ).fetchone()[0]
                n_report = con.execute(
                    f"SELECT count(*) FROM read_parquet('{_parquet_glob(os.path.join(stage, 'report'))}')"
                ).fetchone()[0]
                ok = n_got == n_expected == n_keys and diff == 0 and bad_sum == 0 and n_report > 0
                if not ok:
                    notes.append(
                        f"pass {i}: rows {n_got}/{n_expected} keys {n_keys} mismatched {diff} "
                        f"sum!=1 {bad_sum} report rows {n_report}"
                    )
                if i in self.traced_ops:
                    j_rows, j_conv = con.execute(
                        "SELECT count(*), count(DISTINCT conversion_id) FROM "
                        f"read_parquet('{_parquet_glob(os.path.join(stage, 'journeys'))}')"
                    ).fetchone()
                    self.rows_out[i] = {
                        "journeys.rows_out": j_rows,
                        "journeys.fanout": j_rows / max(j_conv, 1),
                        "attribution.rows_out": n_got,
                        "reporting.rows_out": n_report,
                    }
            except duckdb.Error as ex:
                ok = False
                notes.append(f"pass {i}: {ex}")
            verdicts.append(ok)
        return verdicts, notes

    def layer_metrics(self) -> dict[str, float]:
        per_op = []
        for i, run_id in self.traced_ops.items():
            spans = self.tracer.of_run(run_id)

            def tot(name):
                return sum(s.dur for s in spans if s.name == name)

            scan = [s for s in spans if s.name == "domain.scan"]
            m = {
                "domain.scan_s": tot("domain.scan"),
                "domain.rows_in": scan[0].attrs.get("rows", 0) if scan else 0,
                "journeys.plan_s": tot("journeys.plan"),
                "journeys.exec_s": tot("journeys.exec"),
                "attribution.plan_s": tot("attribution.plan"),
                "attribution.exec_s": tot("attribution.exec"),
                "reporting.plan_s": tot("reporting.plan"),
                "reporting.exec_s": tot("reporting.exec"),
                "pipeline.check_s": tot("pipeline.check"),
                "pipeline.stage_write_s": tot("journeys.exec") + tot("attribution.exec") + tot("reporting.exec"),
            }
            m.update(self.rows_out.get(i, {}))
            per_op.append(m)
        return {k: _median(m.get(k) for m in per_op) for k in (per_op[0] if per_op else {})}


# ---------------------------------------------------------------------------
# daily_incremental
# ---------------------------------------------------------------------------


class DailyIncremental(Workload):
    """One availableNow incremental-attribution run per landed day."""

    name = "daily_incremental"
    WARMUP_DAYS = 2
    SIZES = {
        "full": {"events": 4_000 * 40, "users": 4_000, "days": 40},
        "tiny": {"events": 400 * 8, "users": 80, "days": 8},
    }

    @classmethod
    def prepare(cls, inputs: str, seed: int, scale: str) -> dict:
        info = gen.write_events(inputs, seed, **cls.SIZES[scale])
        info["events_per_day"] = info["events"] // info["days"]
        return info

    def setup(self) -> None:
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        self.day_files = sorted(os.listdir(os.path.join(self.inputs, "days")))
        self.src = os.path.join(self.scratch, "landing")
        self.root = os.path.join(self.scratch, "incremental")
        self.snapshots = os.path.join(self.scratch, "snapshots")
        os.makedirs(self.src)
        self.drv = inc.IncrementalAttribution(self.spark, self.root, model="linear", lookback_days=LOOKBACK_DAYS)
        self.landed = 0
        self.day_of_op: dict[int, int] = {}
        self.progress: dict[int, list[dict]] = {}
        self.phase = "warmup"

    def _land_and_run(self):
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        name = self.day_files[self.landed]
        tmp = os.path.join(self.src, "." + name + ".tmp")
        shutil.copyfile(os.path.join(self.inputs, "days", name), tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.landed += 1
        q = self.drv.start(inc.stream_events_nanos(self.spark, self.src))
        self.run_ids[str(q.runId)] = self.phase
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def warmup(self) -> None:
        for _ in range(self.WARMUP_DAYS):
            self._land_and_run()

    def op(self, i: int, tracer=None) -> int | None:
        if self.landed >= len(self.day_files):
            return None
        self.day_of_op[i] = self.landed
        self.phase = "op" if tracer is None else "op_traced"
        q = self._land_and_run()
        self.progress[i] = list(q.recentProgress)
        return sum(int(p.get("numInputRows", 0)) for p in self.progress[i])

    def capture(self, i: int) -> None:
        if i in self.day_of_op:
            shutil.copytree(os.path.join(self.root, self.drv.ATTRIBUTION), os.path.join(self.snapshots, f"op-{i}"))

    def patches(self):
        from pyspark.sql import DataFrameWriter

        from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
        from marketing_attribution_etl_framework__maef_spark.operators import journeys as jny
        from marketing_attribution_etl_framework__maef_spark.operators import loader as ldr
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        def write_name(tr, args, kwargs):
            path = os.path.normpath(args[1] if len(args) > 1 else kwargs.get("path", ""))
            if path.endswith(".tmp"):
                return "loader.upsert"
            return "io.session_append" if inc.IncrementalAttribution.SESSIONS in path else "io.write"

        def write_bytes(span, args, kwargs):
            span.attrs["bytes"] = dir_bytes(args[1] if len(args) > 1 else kwargs["path"])

        return [
            (inc.IncrementalAttribution, "process_batch", "incremental.batch"),
            (jny, "build_journeys", "journeys.plan"),
            (attr, "attribute", "attribution.plan"),
            (ldr, "upsert", "loader.upsert_plan"),
            (DataFrameWriter, "parquet", write_name, write_bytes),
        ]

    def check(self, n_ops: int) -> tuple[list[bool], list[str]]:
        oracle = _oracles()["maef_stream_attribution"]
        con = duckdb.connect()
        verdicts, notes = [], []
        self.table_rows: dict[int, tuple[int, int]] = {}
        for i in range(n_ops):
            landed = self.day_files[: self.day_of_op[i] + 1]
            files = ", ".join(f"'{os.path.join(self.inputs, 'days', f)}'" for f in landed)
            snap = os.path.join(self.snapshots, f"op-{i}")
            try:
                con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet([{files}])")
                con.execute(f"CREATE OR REPLACE TABLE expected AS {oracle}")
                con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{_parquet_glob(snap)}')")
                n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
                n_got, n_keys = con.execute("SELECT count(*), count(DISTINCT (conv_id, session_id)) FROM got").fetchone()
                diff = con.execute(
                    "SELECT count(*) FROM expected e FULL OUTER JOIN got g USING (conv_id, session_id) "
                    "WHERE e.ihc IS NULL OR g.ihc IS NULL OR abs(e.ihc - g.ihc) > 1e-12"
                ).fetchone()[0]
                ok = n_got == n_exp == n_keys and diff == 0
                if not ok:
                    notes.append(f"day {self.day_of_op[i]}: rows {n_got}/{n_exp} keys {n_keys} mismatched {diff}")
                self.table_rows[i] = (n_got, dir_bytes(snap))
            except duckdb.Error as ex:
                ok = False
                notes.append(f"day {self.day_of_op[i]}: {ex}")
            verdicts.append(ok)
        return verdicts, notes

    def layer_metrics(self) -> dict[str, float]:
        per_op = []
        for i, run_id in self.traced_ops.items():
            spans = self.tracer.of_run(run_id)

            def tot(name):
                return sum(s.dur for s in spans if s.name == name)

            written = sum(s.attrs.get("bytes", 0) for s in spans if s.name in ("loader.upsert", "io.session_append", "io.write"))
            rows, size = self.table_rows.get(i, (0, 0))
            prev_rows = self.table_rows.get(i - 1, (None, 0))[0]
            new_bytes = (rows - prev_rows) * size / rows if prev_rows is not None and rows else 0
            dur = {}
            for p in self.progress.get(i, []):
                for k, v in (p.get("durationMs") or {}).items():
                    dur[k] = dur.get(k, 0) + v
            per_op.append(
                {
                    "journeys.plan_s": tot("journeys.plan"),
                    # one attribution row per journey row, and every day's
                    # conversions are new keys
                    "journeys.rows_out": rows - prev_rows if prev_rows is not None else None,
                    "attribution.rows_out": rows - prev_rows if prev_rows is not None else None,
                    "attribution.plan_s": tot("attribution.plan"),
                    "loader.upsert_s": tot("loader.upsert") + tot("loader.upsert_plan"),
                    "io.bytes_written": written,
                    "io.write_amp": written / new_bytes if new_bytes > 0 else None,
                    "incremental.batch_s": tot("incremental.batch"),
                    "streaming.trigger_ms": dur.get("triggerExecution", 0),
                    "streaming.add_batch_ms": dur.get("addBatch", 0),
                    "streaming.wal_commit_ms": dur.get("walCommit", 0),
                }
            )
        out = {k: _median(m.get(k) for m in per_op) for k in (per_op[0] if per_op else {})}
        out["incremental.state_bytes"] = dir_bytes(self.root)
        return out


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------


class DedupCorpus(Workload):
    """MinHash near-dup pairs -> clusters -> survivors over the corpus."""

    name = "dedup_corpus"
    # with one, a run that fits only three timed passes has the slow first
    # one in the middle of them
    WARMUP_PASSES = 2
    SIZES = {"full": {"docs": 1_500}, "tiny": {"docs": 300}}

    @classmethod
    def prepare(cls, inputs: str, seed: int, scale: str) -> dict:
        return gen.write_documents(inputs, seed, cls.SIZES[scale]["docs"])

    def setup(self) -> None:
        self.corpus = os.path.join(self.inputs, "corpus", "documents.parquet")
        self.out_root = os.path.join(self.scratch, "dedup")
        self.live: dict[int, tuple] = {}
        self.counts: dict[int, dict] = {}

    def _pass(self, out_dir: str):
        from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd

        docs = self.spark.read.parquet(self.corpus)
        pairs = dd.minhash_dedup_pairs(docs).localCheckpoint()
        clusters = dd.cluster_duplicates(pairs)
        dd.dedup_survivors(docs, clusters=clusters).write.mode("overwrite").parquet(os.path.join(out_dir, "survivors"))
        return pairs, clusters

    def warmup(self) -> None:
        for k in range(self.WARMUP_PASSES):
            for df in self._pass(os.path.join(self.out_root, f"warmup-{k}")):
                df.unpersist()

    def op(self, i: int, tracer=None) -> int | None:
        self.live[i] = self._pass(os.path.join(self.out_root, f"pass-{i}"))
        return self.size["docs"]

    def capture(self, i: int) -> None:
        pairs, clusters = self.live.pop(i)
        base = os.path.join(self.out_root, f"pass-{i}")
        pairs.write.parquet(os.path.join(base, "pairs"))
        clusters.write.parquet(os.path.join(base, "clusters"))
        if i in self.traced_ops:
            cands = [
                s.attrs.pop("result")
                for s in self.tracer.of_run(self.traced_ops[i])
                if s.name == "dedup.candidates" and "result" in s.attrs
            ]
            self.counts[i] = {"candidates": sum(c.count() for c in cands)}
            for c in cands:
                c.unpersist()
        pairs.unpersist()
        clusters.unpersist()

    def patches(self):
        from pyspark.sql import DataFrameWriter

        from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd

        def ckpt_name(tr, args, kwargs):
            cur = tr.current()
            if cur is None:
                return None
            # minhash_dedup_pairs checkpoints its LSH candidates; the
            # benchmark's own checkpoint of the returned pairs runs the
            # verify join
            return {"dedup.signature": "dedup.candidates", "op": "dedup.verify"}.get(cur.name)

        def write_name(tr, args, kwargs):
            cur = tr.current()
            return "dedup.survivor_write" if cur is not None and cur.name == "op" else None

        return [
            (dd, "minhash_dedup_pairs", "dedup.signature"),
            (dd, "cluster_duplicates", "dedup.cluster"),
            (dd, "dedup_survivors", "dedup.survivor_plan"),
            (self.dataframe_class(), "localCheckpoint", ckpt_name),
            (DataFrameWriter, "parquet", write_name),
        ]

    def check(self, n_ops: int) -> tuple[list[bool], list[str]]:
        from __spark_entry__ import _AUG

        o = _oracles()
        plain = "aug AS (\n  SELECT doc_id, text, lang FROM documents\n)"
        sql = {}
        for key in ("llm_dedup_minhash", "llm_dedup_clusters"):
            if o[key].count(_AUG) != 1:
                raise RuntimeError(f"oracle {key} no longer starts from the augmented corpus CTE")
            # the generated corpus carries its own planted duplicates
            sql[key] = o[key].replace(_AUG, plain)
        # evaluate the edge list once instead of once per recursion step of
        # the connected-components walk: an evaluation hint, same result
        sql["llm_dedup_clusters"] = sql["llm_dedup_clusters"].replace("edges AS (", "edges AS MATERIALIZED (", 1)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}')")
        con.execute(f"CREATE TABLE exp_pairs AS {sql['llm_dedup_minhash']}")
        con.execute(f"CREATE TABLE exp_clusters AS {sql['llm_dedup_clusters']}")
        planted = os.path.join(self.inputs, "corpus", "planted_pairs.parquet")
        verdicts, notes = [], []
        self.recall = []
        for i in range(n_ops):
            base = os.path.join(self.out_root, f"pass-{i}")
            try:
                con.execute(f"CREATE OR REPLACE VIEW gp AS SELECT * FROM read_parquet('{_parquet_glob(os.path.join(base, 'pairs'))}')")
                con.execute(f"CREATE OR REPLACE VIEW gc AS SELECT * FROM read_parquet('{_parquet_glob(os.path.join(base, 'clusters'))}')")
                n_p = con.execute("SELECT count(*) FROM gp").fetchone()[0]
                d_p = con.execute(
                    "SELECT count(*) FROM exp_pairs e FULL OUTER JOIN gp g USING (doc_a, doc_b) "
                    "WHERE e.inter_size IS DISTINCT FROM g.inter_size OR e.union_size IS DISTINCT FROM g.union_size"
                ).fetchone()[0]
                n_c = con.execute("SELECT count(*) FROM gc").fetchone()[0]
                d_c = con.execute(
                    "SELECT count(*) FROM exp_clusters e FULL OUTER JOIN gc g USING (doc_id) "
                    "WHERE e.cluster_id IS DISTINCT FROM g.cluster_id"
                ).fetchone()[0]
                n_ep = con.execute("SELECT count(*) FROM exp_pairs").fetchone()[0]
                n_ec = con.execute("SELECT count(*) FROM exp_clusters").fetchone()[0]
                n_surv = con.execute(
                    f"SELECT count(*) FROM read_parquet('{_parquet_glob(os.path.join(base, 'survivors'))}')"
                ).fetchone()[0]
                hit, total = con.execute(
                    f"SELECT count(g.doc_a), count(*) FROM read_parquet('{planted}') t "
                    "LEFT JOIN gp g USING (doc_a, doc_b)"
                ).fetchone()
                self.recall.append(hit / total if total else 0.0)
                ok = n_p == n_ep and d_p == 0 and n_c == n_ec and d_c == 0 and n_surv == n_c
                if not ok:
                    notes.append(f"pass {i}: pairs {n_p}/{n_ep} mismatched {d_p}, clusters {n_c}/{n_ec} mismatched {d_c}, survivors {n_surv}")
                if i in self.counts:
                    self.counts[i]["pairs"] = n_p
            except duckdb.Error as ex:
                ok = False
                notes.append(f"pass {i}: {ex}")
            verdicts.append(ok)
        return verdicts, notes

    def layer_metrics(self) -> dict[str, float]:
        per_op = []
        for i, run_id in self.traced_ops.items():
            spans = self.tracer.of_run(run_id)

            def tot(name):
                return sum(s.dur for s in spans if s.name == name)

            c = self.counts.get(i, {})
            cands, pairs = c.get("candidates", 0), c.get("pairs", 0)
            per_op.append(
                {
                    "dedup.signature_s": tot("dedup.signature"),
                    "dedup.candidates": cands,
                    "dedup.verify_s": tot("dedup.verify"),
                    "dedup.pairs": pairs,
                    "dedup.candidate_precision": pairs / cands if cands else None,
                    "dedup.cluster_s": tot("dedup.cluster"),
                    "dedup.survivor_s": tot("dedup.survivor_plan") + tot("dedup.survivor_write"),
                }
            )
        out = {k: _median(m.get(k) for m in per_op) for k in (per_op[0] if per_op else {})}
        out["dedup.planted_recall"] = _median(self.recall)
        return out


WORKLOADS = {w.name: w for w in (BatchAttribution, DailyIncremental, DedupCorpus)}
