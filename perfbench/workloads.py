"""The benchmark's three workloads, as closed loops of operations.

Each workload yields one pass as a list of ``(name, kind, fn)``
operations; the worker times each call and runs the next one when it
returns (one client). ``kind`` is ``query``, ``commit`` or ``read``.
Output checks run after the timed passes and are never timed.
"""

from __future__ import annotations

import importlib.util
import os

import pandas as pd

from gen import lakehouse_pass, lakehouse_prologue

ETL_RELATIONAL = (
    "spray_targets", "spatial_buffer_erase", "polygon_clip_area", "pricing_summary",
    "multiway_join_topk_revenue", "groupby_agg", "window_topk_per_group",
    "sessionize_events", "tumbling_window_batch", "gap_fill_locf", "event_funnel",
)
LLM_CURATION = (
    "dedup_exact", "dedup_minhash_lsh", "ngram_jaccard_pairs", "corpus_curation_stats",
    "tfidf_top_terms", "winnow_fingerprints", "dedup_simhash", "embedding_neardup_pairs",
    "ann_topk_ivfpq", "bm25_topk", "pii_scrub",
)
# Approximate-pair queries are checked as recall against their exact
# oracle (the registry's approximate == exact claim holds only on the
# catalog corpus). Floors are declared here, never tuned per seed.
RECALL = {
    "dedup_minhash_lsh": ("operators.dedup", ("doc_a", "doc_b"), 0.99),
    "embedding_neardup_pairs": ("operators.similarity", ("id_a", "id_b"), 0.99),
}

def _oracle_harness():
    """tests/oracle_harness.py, loaded by path (``tests`` is not a
    package, and another ``tests`` may be importable)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join("tests", "oracle_harness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryWorkload:
    """Registry queries over a generated input dir; each operation is a
    plan build (the registry call) plus a noop-sink action."""

    def __init__(self, spark, tracer, names, input_dir):
        from wnv_etl_lab2_spark import queries

        self.spark, self.tracer, self.names, self.input_dir = spark, tracer, names, input_dir
        self.registry = queries.REGISTRY

    def pass_ops(self, pass_idx):
        return [(n, "query", self._runner(n)) for n in self.names]

    def _runner(self, name):
        def run():
            with self.tracer.span("queries.build"):
                df = self.registry[name].fn(self.spark, self.input_dir)
            with self.tracer.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()

        return run

    def check(self):
        """{query: error or None} and {layer: recall}."""
        oh = _oracle_harness()
        errors, recall = {}, {}
        for name in self.names:
            try:
                got = self.registry[name].fn(self.spark, self.input_dir).toPandas()
                want = oh.run_oracle(self.registry[name].oracle, self.input_dir)
                if name in RECALL:
                    layer, keys, floor = RECALL[name]
                    r, extra = _pair_recall(got, want, list(keys))
                    recall[layer] = r
                    if r < floor or extra:
                        raise AssertionError(
                            f"recall {r:.4f} (floor {floor}), {extra} pairs not in the exact set"
                        )
                else:
                    oh.compare(got, want, name)
                errors[name] = None
            except Exception as e:  # a failed check is counted, not fatal
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
        return errors, recall


def _pair_recall(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]):
    g = set(map(tuple, got[keys].astype("int64").itertuples(index=False)))
    w = set(map(tuple, want[keys].astype("int64").itertuples(index=False)))
    return (len(g & w) / len(w) if w else 1.0), len(g - w)


class LakehouseWorkload:
    """Seeded ``sources.versioned`` verbs over hive-partitioned document
    tables. The prologue creates ``N_PROLOGUE_TABLES`` tables before the
    first pass (untimed); every pass then runs ``gen.lakehouse_pass``
    (one create, appends, DML, reads, optimize and vacuum) on the
    growing set. Every executed step is kept for the DuckDB replay."""

    def __init__(self, spark, tracer, input_dir, work_dir, seed):
        import pyarrow.parquet as pq

        from wnv_etl_lab2_spark.sources import versioned

        self.spark, self.tracer, self.V, self.seed = spark, tracer, versioned, seed
        self.pool = pq.read_table(os.path.join(input_dir, "documents.parquet")).to_pandas()
        self.root = os.path.join(work_dir, "tables")
        self.executed: list[dict] = []
        self.reads: dict[int, int] = {}  # executed step index -> rows read
        # traced passes only: files new under the table roots, files
        # opened vs in the snapshot per read, per-pass layer numbers
        self.seen: set[str] = set()
        self.written: dict[str, int] = {}
        self.read_files = [0, 0]
        self.last_read = None
        self.user_bytes = 0
        self.pass_stats: dict[int, dict] = {}
        for step in lakehouse_prologue(len(self.pool)):
            self._runner(step)()

    def table_path(self, t) -> str:
        return os.path.join(self.root, f"t{t}")

    def rows(self, step) -> pd.DataFrame:
        df = self.pool.iloc[step["lo"]:step["hi"]].copy()
        df["doc_id"] = df["doc_id"] + step.get("id_base", 0)
        if step["verb"] == "merge":
            df["text"] = df["text"] + " v2"
            df["n_chars"] = df["text"].str.len().astype("int64")
            new = self.pool.iloc[step["new_lo"]:step["new_lo"] + 2].copy()
            new["doc_id"] = new["doc_id"] + step["id_base"]
            df = pd.concat([df, new], ignore_index=True)
        return df.reset_index(drop=True)

    def _files(self):
        return (os.path.join(d, f) for d, _, fs in os.walk(self.root) for f in fs)

    def pass_ops(self, pass_idx):
        self.seen = set(self._files())
        self.written, self.read_files, self.user_bytes = {}, [0, 0], 0
        steps = lakehouse_pass(self.seed, pass_idx, len(self.pool))
        return [
            (s["verb"], "read" if s["verb"] == "read" else "commit", self._runner(s))
            for s in steps
        ]

    def _runner(self, step):
        """The step as a zero-argument call. Input rows become a
        DataFrame here, before the step is timed."""
        V, spark, path = self.V, self.spark, self.table_path(step["table"])
        verb, i = step["verb"], len(self.executed)
        self.executed.append(step)
        if verb in ("create", "append", "merge"):
            pdf = self.rows(step)
            self.user_bytes += _user_bytes(pdf)
            df = spark.createDataFrame(pdf)
            if verb == "create":
                return lambda: V.create_table(df, path, partition_by=["lang"])
            if verb == "append":
                return lambda: V.append_table(df, path)
            return lambda: V.merge_upsert_table(df, path, "doc_id")
        if verb == "delete":
            return lambda: V.delete_from_table(spark, path, step["condition"])
        if verb == "update":
            return lambda: V.update_table(spark, path, step["set"], step["condition"])
        if verb == "optimize":
            return lambda: V.optimize_table(spark, path)
        if verb == "vacuum":
            return lambda: V.vacuum_table(spark, path)

        def read():
            if step["kind"] == "partition":
                df = V.read_table(spark, path, partition_filter={"lang": step["lang"]})
            elif step["kind"] == "time_travel":
                df = V.read_table(spark, path, version=V.latest_version(spark, path) - 1)
            else:
                df = V.read_table(spark, path)
            with self.tracer.span("exec.action"):
                self.reads[i] = len(df.collect())
            self.last_read = (df, path)

        return read

    def after_op(self, kind) -> None:
        """Traced passes, outside the op's timing: note the files a
        commit left under the table roots, and how many of its
        snapshot's files a read opened."""
        if kind == "commit":
            for f in self._files():
                if f not in self.seen:
                    self.seen.add(f)
                    self.written[f] = os.path.getsize(f)
        elif self.last_read is not None:
            df, path = self.last_read
            self.read_files[0] += len(df.inputFiles())
            self.read_files[1] += len(self.V.read_table(self.spark, path).inputFiles())
            self.last_read = None

    def pass_done(self, p) -> None:
        """Per-pass layer numbers of a traced pass."""
        commits = sum(1 for s in lakehouse_pass(self.seed, p, len(self.pool)) if s["verb"] != "read")
        on_disk, live = self.disk_bytes()
        log = sum(n for f, n in self.written.items() if f"{os.sep}_log{os.sep}" in f)
        data_files = sum(
            1 for f in self.written if f"{os.sep}data{os.sep}" in f and f.endswith(".parquet")
        )
        self.pass_stats[p] = {
            "sources.versioned.write_amp": sum(self.written.values()) / self.user_bytes,
            "sources.versioned.space_amp": on_disk / live,
            "sources.versioned.log_bytes_per_commit": log / commits,
            "sources.versioned.files_per_commit": data_files / commits,
            "sources.versioned.read_files_frac": self.read_files[0] / max(1, self.read_files[1]),
        }

    def check(self):
        """Replay every executed step in DuckDB; compare every table's
        final snapshot and every read's row count. Returns ({check:
        error or None}, {})."""
        import duckdb

        oh = _oracle_harness()
        con = duckdb.connect()
        expected = {}  # executed step index -> rows a read should return
        before_append = {}  # table -> rows before its latest append
        count = lambda t, where="": con.sql(f"SELECT count(*) FROM t{t} {where}").fetchone()[0]
        for i, step in enumerate(self.executed):
            t, verb = step["table"], step["verb"]
            if verb == "create":
                con.sql(
                    f"CREATE TABLE t{t} (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
                    " source VARCHAR, n_chars BIGINT)"
                )
            if verb in ("create", "append", "merge"):
                pdf = self.rows(step)[["doc_id", "text", "lang", "source", "n_chars"]]
                if verb == "append":
                    before_append[t] = count(t)
                if verb == "merge":
                    ids = ", ".join(str(int(x)) for x in pdf["doc_id"])
                    con.sql(f"DELETE FROM t{t} WHERE doc_id IN ({ids})")
                con.register("batch", pdf)
                con.sql(f"INSERT INTO t{t} SELECT * FROM batch")
                con.unregister("batch")
            elif verb == "delete":
                con.sql(f"DELETE FROM t{t} WHERE {step['condition']}")
            elif verb == "update":
                sets = ", ".join(f"{c} = {e}" for c, e in step["set"].items())
                con.sql(f"UPDATE t{t} SET {sets} WHERE {step['condition']}")
            elif verb == "read":
                expected[i] = {
                    "partition": lambda: count(t, f"WHERE lang = '{step.get('lang')}'"),
                    "time_travel": lambda: before_append[t],
                    "latest": lambda: count(t),
                }[step["kind"]]()
        errors = {}
        for i, n in self.reads.items():
            step = self.executed[i]
            key = f"read@{i}:t{step['table']}:{step['kind']}"
            errors[key] = None if n == expected[i] else f"rows {n} != replay {expected[i]}"
        for t in sorted({s["table"] for s in self.executed}):
            key = f"snapshot:t{t}"
            try:
                got = self.V.read_table(self.spark, self.table_path(t)).toPandas()
                want = con.sql(f"SELECT * FROM t{t}").df()
                oh.compare(got[sorted(want.columns)], want, key)
                errors[key] = None
            except Exception as e:  # a failed check is counted, not fatal
                errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
        return errors, {}

    def disk_bytes(self) -> tuple[int, int]:
        """(bytes of every file under the table roots, bytes of the live
        snapshots' data files)."""
        total = sum(os.path.getsize(f) for f in self._files())
        live = 0
        for t in sorted({s["table"] for s in self.executed}):
            for f in self.V.read_table(self.spark, self.table_path(t)).inputFiles():
                live += os.path.getsize(f.split("file:", 1)[-1])
        return total, live


def _user_bytes(pdf: pd.DataFrame) -> int:
    """Bytes the user submitted: UTF-8 string bytes plus 8 per number."""
    n = 0
    for c in pdf.columns:
        if pdf[c].dtype == object:
            n += int(pdf[c].map(lambda s: len(s.encode())).sum())
        else:
            n += 8 * len(pdf)
    return n


def make(workload, spark, tracer, input_dir, work_dir, seed):
    if workload == "etl_relational":
        return QueryWorkload(spark, tracer, ETL_RELATIONAL, input_dir)
    if workload == "llm_curation":
        return QueryWorkload(spark, tracer, LLM_CURATION, input_dir)
    if workload == "lakehouse_dml":
        return LakehouseWorkload(spark, tracer, input_dir, work_dir, seed)
    raise ValueError(f"unknown workload {workload!r}")

