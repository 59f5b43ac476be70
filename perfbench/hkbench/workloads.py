"""The four workloads: inputs, the timed operation, exact answers, checks.

The sketch workloads build their inputs from the seed through the
library's own generators (``sources.synth``); ``query-suite`` reads the
sf0.01 test tables copied under ``perfbench/data``. The operation
reaches the library only through its public calls.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

from . import stats

#: the bench.py leaves, same names and order
SUITE = (
    "hk_topk_event_type",
    "hk_topk_user",
    "hk_topk_tokens",
    "hk_weighted_topk_part",
    "hk_estimate_event_types",
    "exact_topk_tokens",
    "lineitem_pricing_summary",
    "revenue_by_segment",
    "top_sources_per_lang",
    "token_stats_per_lang",
    "exact_dedup_text",
    "tpch_q3_shipping",
    "minhash_near_dup_pairs",
    "embedding_topk_cosine",
    "lang_id_counts",
)

#: the tables the leaves read, copied from the sf0.01 test data
DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "data", "sf0.01")
TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]

#: exact keys kept per sketch fixture, for count lookups of returned keys
_EXACT_KEEP = 2000


def _duck():
    import duckdb

    return duckdb.connect()


class SketchWorkload:
    """A top-K over one seeded parquet fixture, checked against the
    exact top-K computed by DuckDB over the same files."""

    name = ""
    why = ""
    k = 100
    #: fixed before measuring; a result below it counts as wrong
    recall_floor = 0.0
    unit = "keys"
    spark_conf: dict = {}

    def spec(self, seed: int) -> dict:
        raise NotImplementedError

    def generate(self, spark, seed: int):
        """The library generator's DataFrame for this seed."""
        raise NotImplementedError

    def prepare(self, spark, seed: int, run_dir: str) -> str:
        """Write this seed's input under ``run_dir``; return its directory."""
        data_dir = os.path.join(run_dir, "data")
        self.generate(spark, seed).write.parquet(data_dir)
        return data_dir

    def key_sql(self, files: str) -> str:
        """DuckDB rows ``(key VARCHAR)`` of the keys the sketch counts."""
        raise NotImplementedError

    def exact(self, data_dir: str) -> dict:
        files = os.path.join(data_dir, "*.parquet")
        con = _duck()
        try:
            n_rows = con.execute(f"SELECT COUNT(*) FROM '{files}'").fetchone()[0]
            top = con.execute(
                f"SELECT key, COUNT(*) AS c FROM ({self.key_sql(files)}) "
                f"GROUP BY key ORDER BY c DESC, key LIMIT {_EXACT_KEEP}"
            ).fetchall()
        finally:
            con.close()
        return {"rows": n_rows, "top": [[k, c] for k, c in top]}

    def input_df(self, spark, data_dir: str):
        return spark.read.parquet(data_dir)

    def projected(self, df):
        """The columns the operation reads (the scan probe drains these)."""
        return df.select(self.column)

    def projected_bytes(self, data_dir: str) -> int:
        """On-disk bytes of the projected column chunks."""
        return _column_bytes(glob.glob(os.path.join(data_dir, "*.parquet")), self.column)

    def operations(self, spark, data_dir: str) -> list:
        df = self.input_df(spark, data_dir)
        return [(self.name, lambda: self.run(df).collect())]

    def run(self, df):
        raise NotImplementedError

    def units(self, exact: dict) -> int:
        return exact["rows"]

    def check(self, op: str, rows: list, exact: dict) -> dict:
        truth = {k: c for k, c in exact["top"]}
        exact_top = [k for k, _ in exact["top"][: self.k]]
        got = {r["item"]: int(r["count"]) for r in rows}
        recall = stats.recall_at_k(exact_top, list(got))
        return {
            "ok": len(rows) == self.k and recall >= self.recall_floor,
            "recall_at_k": recall,
            "count_are": stats.count_are(truth, got),
        }


class U64Zipf(SketchWorkload):
    name = "u64-zipf"
    why = (
        "the reference's bench fixture: bounded Zipf(1e6, s=1.2) int64 keys; "
        "scan and kernel.add carry the time, blobs are small"
    )
    column = "key"
    recall_floor = 0.95
    n_keys = 3_000_000
    files = 8  # one row group each: at least as many as cores

    def spec(self, seed: int) -> dict:
        return {"generator": "sources.synth.zipf_keys", "seed": seed, "n": self.n_keys,
                "s": 1.2, "universe": 1_000_000, "files": self.files}

    def generate(self, spark, seed: int):
        from heavykeeper_rs_spark.sources.synth import zipf_keys

        return zipf_keys(spark, self.n_keys, 1.2, 1_000_000, seed=seed, partitions=self.files)

    def key_sql(self, files: str) -> str:
        return f"SELECT CAST(key AS VARCHAR) AS key FROM '{files}'"

    def run(self, df):
        from heavykeeper_rs_spark.operators.topk import topk

        return topk(df, "key", k=self.k, width=4096, depth=4)


class WideMerge(U64Zipf):
    name = "wide-merge"
    why = (
        "int64 Zipf(s=0.9) over 4M keys in 9 partitions past an 8-way merge fan-in: "
        "dense 4 MB partial blobs make codec, the merge level and the driver fold carry the time"
    )
    recall_floor = 0.9
    files = 9
    n_keys = files * 50_000  # ~33k distinct keys per partial: over 1/3 of its cells
    fan_in = 8
    # one input partition per file, as files of a few MB would give by
    # default: the default 128 MB split target packs these small files
    # into one partition per core and the merge level would never run
    spark_conf = {"spark.sql.files.maxPartitionBytes": str(4 << 20)}

    def spec(self, seed: int) -> dict:
        return {"generator": "sources.synth.zipf_keys", "seed": seed, "n": self.n_keys,
                "s": 0.9, "universe": 4_000_000, "files": self.files}

    def generate(self, spark, seed: int):
        from heavykeeper_rs_spark.sources.synth import zipf_keys

        return zipf_keys(spark, self.n_keys, 0.9, 4_000_000, seed=seed, partitions=self.files)

    def run(self, df):
        from heavykeeper_rs_spark.operators.topk import topk

        return topk(df, "key", k=self.k, width=65536, depth=4, merge_groups=self.fan_in)


class WebtextTokens(SketchWorkload):
    name = "webtext-tokens"
    why = (
        "sources.synth.webtext documents (40 Zipf tokens over 4096 words): "
        "in-kernel tokenizing and per-occurrence hashing carry the time, blobs are sparse"
    )
    column = "text"
    unit = "docs"
    recall_floor = 0.95
    n_docs = 40_000

    def spec(self, seed: int) -> dict:
        return {"generator": "sources.synth.webtext", "seed": seed, "n": self.n_docs,
                "files": 8}

    def generate(self, spark, seed: int):
        from heavykeeper_rs_spark.sources.synth import webtext

        return webtext(spark, self.n_docs, seed=seed, partitions=8).select("doc_id", "text")

    def key_sql(self, files: str) -> str:
        return (
            "SELECT t AS key FROM (SELECT unnest(regexp_extract_all(lower(text), "
            f"'[a-z]+')) AS t FROM '{files}') WHERE length(t) <= 64"
        )

    def run(self, df):
        from heavykeeper_rs_spark.operators.topk import topk_tokens

        return topk_tokens(df, "text", k=self.k, width=16384, depth=4)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        # the leaves ROUND() their float outputs: 12 significant digits
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, int):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return str(v)


def result_hash(cols: list[str], rows: list) -> str:
    """Order-insensitive hash of a result, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    text = repr([cols[i] for i in order]) + "\n" + "\n".join(body)
    return hashlib.sha256(text.encode()).hexdigest()


class QuerySuite:
    """The 15 bench.py leaves over the sf0.01 test tables, each result
    hash-checked against its ``oracle_sql()`` answer from DuckDB. The
    tables are fixed: the seed does not change them."""

    name = "query-suite"
    why = (
        "the 15 bench.py leaves on the sf0.01 test tables, each checked against "
        "its DuckDB oracle: sub-second jobs where job floor, planning and finalize dominate"
    )
    unit = "queries"
    spark_conf: dict = {}

    def spec(self, seed: int) -> dict:
        return {"data": "sf0.01", "tables": TABLES}

    def prepare(self, spark, seed: int, run_dir: str) -> str:
        return DATA

    def exact(self, data_dir: str) -> dict:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = _duck()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            out = {}
            for name in SUITE:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                out[name] = result_hash(cols, res.fetchall())
        finally:
            con.close()
        return {"hashes": out}

    def input_df(self, spark, data_dir: str):
        return spark.read.parquet(os.path.join(data_dir, "documents.parquet"))

    def projected(self, df):
        return df.select("text")

    def projected_bytes(self, data_dir: str) -> int:
        return _column_bytes([os.path.join(data_dir, "documents.parquet")], "text")

    def operations(self, spark, data_dir: str) -> list:
        import __spark_entry__ as entry

        qs = entry.queries()

        def leaf(name):
            def run():
                df = qs[name](spark, data_dir)
                return df.columns, df.collect()

            return run

        return [(name, leaf(name)) for name in SUITE]

    def units(self, exact: dict) -> int:
        return len(SUITE)

    def check(self, op: str, result, exact: dict) -> dict:
        cols, rows = result
        return {"ok": result_hash(cols, [tuple(r) for r in rows]) == exact["hashes"][op]}


WORKLOADS = {w.name: w for w in (U64Zipf(), WebtextTokens(), WideMerge(), QuerySuite())}


def _column_bytes(files: list[str], column: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                if group.column(c).path_in_schema == column:
                    total += group.column(c).total_compressed_size
    return total
