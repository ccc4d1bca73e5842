"""The benchmark's workloads: what one pass runs, and how each output is
checked.

A workload hands the runner one pass at a time as a list of operations
``(name, construct)``; the runner times ``construct()`` and the collection
of the frame it returns, then calls ``check`` outside the timed region.
"""

from __future__ import annotations

import hashlib
import shutil
from functools import partial
from pathlib import Path

import numpy as np

from perfbench.tracing import dir_bytes
from tools.check_oracle import _canon_duck, _canon_spark, duck_connection, normalize

CORPUS_TARGETS = [
    "tokenization", "document_lengths", "unigrams", "bigrams",
    "total_wordcounts", "encoded_unigrams", "srp", "srp_bits",
]
SRP_DIM = 1280
# the corpus tokenizer, in RE2 spelling: split on runs of non-letters
_TOKENS = r"list_filter(regexp_split_to_array(text, '[^\pL]+'), x -> x <> '')"


def _rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return cols, list(zip(*[c.to_pylist() for c in table.columns]))


def digest(table) -> str:
    """Order-insensitive digest of a collected table."""
    cols, rows = _rows(table)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in normalize(rows, cols):
        h.update(repr(r).encode())
    return h.hexdigest()


class CorpusBuild:
    """``CorpusSession`` over a folder of texts plus a CSV catalog.  The cold
    pass builds every target into an empty ``CheckpointCache``; each warm
    pass is a fresh session reading the targets back from that cache."""

    layer = "corpus"

    def __init__(self, spark, inputs: Path, work: Path):
        from nonconsumptive_spark.corpus import CorpusSession

        self.spark, self.session_cls = spark, CorpusSession
        self.texts, self.catalog = inputs / "texts", inputs / "catalog.csv"
        self.cache_dir = work / "nc_cache"
        shutil.rmtree(self.cache_dir, ignore_errors=True)
        self.input_bytes = dir_bytes(self.texts) + self.catalog.stat().st_size
        self.files = sum(1 for _ in self.texts.glob("*.txt")) + 1
        self.expected = self._expected()
        # distinct tokens as the tokenizer sees them (case kept)
        self.facts = {"distinct_tokens": len(self.expected["total_wordcounts"][1])}
        self.cold_digest: dict[str, str] = {}
        self.cold_srp = None

    def _expected(self) -> dict[str, tuple[list[str], list[tuple]]]:
        """DuckDB tokenize-and-count of the generated text."""
        import duckdb
        import pyarrow as pa

        files = sorted(self.texts.glob("*.txt"))
        con = duckdb.connect()
        docs = pa.table({  # noqa: F841  (scanned by name below)
            "id": [f.stem for f in files],
            "ncid": pa.array(range(len(files)), pa.int64()),
            "text": [f.read_text(encoding="utf-8") for f in files],
        })
        con.execute(f"""CREATE TABLE toks AS
            SELECT id, ncid, {_TOKENS} AS toks FROM docs""")
        con.execute("""CREATE TABLE tok AS
            SELECT ncid, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
            FROM toks""")
        con.execute("""CREATE TABLE uni AS
            SELECT ncid, token, count(*)::BIGINT AS count FROM tok GROUP BY ALL""")
        con.execute("""CREATE TABLE vocab AS
            SELECT (row_number() OVER (ORDER BY count DESC, token ASC) - 1)::BIGINT
                   AS wordid, token, count
            FROM (SELECT token, count(*)::BIGINT AS count FROM tok GROUP BY token)""")
        sql = {
            "tokenization": 'SELECT id AS "@id", ncid AS "nc:id", toks AS tokenization FROM toks',
            "document_lengths": 'SELECT ncid AS "nc:id", len(toks)::BIGINT AS nwords FROM toks',
            "unigrams": 'SELECT ncid AS "nc:id", token, count FROM uni',
            "bigrams": """SELECT a.ncid AS "nc:id", a.token AS w0, b.token AS w1,
                                 count(*)::BIGINT AS count
                          FROM tok a JOIN tok b ON a.ncid = b.ncid AND b.pos = a.pos + 1
                          GROUP BY ALL""",
            "total_wordcounts": "SELECT wordid, token, count FROM vocab",
            "encoded_unigrams": """SELECT u.ncid AS "nc:id", v.wordid, u.count
                                   FROM uni u JOIN vocab v USING (token)""",
        }
        out = {}
        for target, q in sql.items():
            rel = con.sql(q)
            out[target] = (rel.columns, normalize(rel.fetchall(), rel.columns))
        con.close()
        return out

    def start_pass(self, kind: str):
        cs = self.session_cls(
            self.spark, texts=str(self.texts), metadata=str(self.catalog),
            cache_dir=self.cache_dir, cache_set=set(CORPUS_TARGETS))
        return [(t, partial(cs.run, t)) for t in CORPUS_TARGETS]

    def check(self, kind: str, target: str, df, table) -> list[str]:
        if kind != "cold":
            if digest(table) != self.cold_digest.get(target):
                return [f"{target}: reloaded output differs from the cold build"]
            return []
        self.cold_digest[target] = digest(table)
        cols, rows = _rows(table)
        if target in self.expected:
            ecols, erows = self.expected[target]
            if sorted(cols) != sorted(ecols):
                return [f"{target}: columns {sorted(cols)} != {sorted(ecols)}"]
            if len(rows) != len(erows):
                return [f"{target}: {len(rows)} rows, DuckDB has {len(erows)}"]
            if normalize(rows, cols) != erows:
                return [f"{target}: values differ from the DuckDB count"]
            return []
        if target == "srp":
            vecs = {r[cols.index("nc:id")]: np.asarray(r[cols.index("srp")], np.float32)
                    for r in rows}
            self.cold_srp = vecs
            if len(vecs) != len(self.expected["document_lengths"][1]):
                return [f"srp: {len(vecs)} rows"]
            if any(v.shape != (SRP_DIM,) or not np.any(v) for v in vecs.values()):
                return ["srp: a vector is empty or not 1280-dimensional"]
            return []
        # srp_bits: the sign bits of the cold srp vectors, packed
        if self.cold_srp is None:
            return ["srp_bits: no srp output to compare with"]
        for r in rows:
            v = self.cold_srp.get(r[cols.index("nc:id")])
            want = None if v is None else bytes(np.packbits(v > 0))
            if r[cols.index("srp_bits")] != want:
                return ["srp_bits: bits differ from the signs of srp"]
        if len(rows) != len(self.cold_srp):
            return [f"srp_bits: {len(rows)} rows"]
        return []

    def close(self) -> None:
        shutil.rmtree(self.cache_dir, ignore_errors=True)


class Headline:
    """The ``bench.py`` HEADLINE queries, each checked against its
    registered DuckDB oracle."""

    layer = "queries"

    def __init__(self, spark, inputs: Path, work: Path):
        from bench import HEADLINE
        from nonconsumptive_spark.queries import all_queries

        registry = all_queries()
        self.spark, self.sf_dir = spark, str(inputs)
        self.queries = {q: registry[q] for q in HEADLINE}
        tables = list(inputs.glob("*.parquet"))
        self.input_bytes = sum(f.stat().st_size for f in tables)
        self.files = len(tables)
        self.facts = {}
        con = duck_connection(self.sf_dir)
        self.expected = {}
        for name, q in self.queries.items():
            rel = con.sql(q.oracle)
            types = {c: _canon_duck(str(t)) for c, t in zip(rel.columns, rel.types)}
            self.expected[name] = (rel.columns, types, normalize(rel.fetchall(), rel.columns))
        con.close()

    def start_pass(self, kind: str):
        return [(name, partial(q.spark_fn, self.spark, self.sf_dir))
                for name, q in self.queries.items()]

    def check(self, kind: str, name: str, df, table) -> list[str]:
        ecols, etypes, erows = self.expected[name]
        cols, rows = _rows(table)
        if sorted(cols) != sorted(ecols):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(ecols)}"]
        stypes = {f.name: _canon_spark(f.dataType) for f in df.schema.fields}
        bad = [c for c in cols if stypes[c] != etypes[c]]
        if bad:
            return [f"{name}: dtype of {bad} differs from the oracle"]
        if len(rows) != len(erows):
            return [f"{name}: {len(rows)} rows, oracle has {len(erows)}"]
        if normalize(rows, cols) != erows:
            return [f"{name}: values differ from the oracle"]
        return []

    def close(self) -> None:
        pass
