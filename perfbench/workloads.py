"""The benchmark's seeded workloads.

A workload is made of parts, each owning some job kinds. Each part has
three methods:

* ``generate(workdir, seed)`` writes its inputs as parquet and computes the
  reference answers with numpy, DuckDB and the standard library, never by
  running ``uda_spark``. It needs no Spark, so the self-tests can run it
  alone.
* ``run(kind, n, tracer)`` is the ``n``-th job of its kind. It calls the
  engine's public operators, each call inside a tracer span named
  ``<module>.<function>``. The action that materializes a call's result
  runs inside that call's span. The job returns its collected output.
* ``check(kind, n, output)`` compares that output with the reference,
  outside the job's timer.

A workload cycles through its job ``kinds``; each kind's median wall and
CPU time are reported in the run details. ``cycle_s`` is the measured
time of one warm cycle, drains included, on a 4-core host. It turns
``--seconds`` into a fixed number of cycles, so the job sequence depends
on the arguments alone.
``warmup_cycles`` is how many cycles it takes the job times to level off
on that host.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# Inputs are split into this many parquet files, so that scans run in
# parallel on any host; the count is fixed so a seed always gives the same
# files.
INPUT_FILES = 8


def _write(table: pa.Table, path: str, parts: int = INPUT_FILES) -> str:
    """Write ``table`` as a directory of ``parts`` parquet files."""
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        piece = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(piece, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")
    return path


def input_size(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path))


def _binary_column(rows: np.ndarray) -> pa.Array:
    """(n, w) uint8 matrix -> binary array of n w-byte values."""
    n, w = rows.shape
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(w), n, [None, pa.py_buffer(np.ascontiguousarray(rows).tobytes())]
    )
    return fixed.cast(pa.binary())


def binary_bytes(col: pa.ChunkedArray) -> bytes:
    """Concatenated values of a binary column, in row order."""
    parts = []
    for chunk in col.chunks:
        if chunk.null_count:
            raise ValueError("unexpected NULL in a binary output column")
        offs = np.frombuffer(chunk.buffers()[1], dtype=np.int32)[
            chunk.offset : chunk.offset + len(chunk) + 1
        ]
        parts.append(chunk.buffers()[2].to_pybytes()[offs[0] : offs[-1]])
    return b"".join(parts)


def _vec_column(mat: np.ndarray, value_type: pa.DataType) -> pa.Array:
    n, d = mat.shape
    flat = pa.array(mat.ravel(), type=value_type)
    return pa.FixedSizeListArray.from_arrays(flat, d).cast(pa.list_(value_type))


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase ASCII words of 3-8 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, size=n)]))
    return np.array(sorted(words))


# ---------------------------------------------------------------------------


class AcceptanceJobs:
    """UDA's acceptance jobs over teragen-style records and Zipf text."""

    kinds = ("terasort", "sort", "wordcount")

    RECORDS = 400_000
    KEY_BYTES, VALUE_BYTES = 10, 90
    LINES = 200_000
    VOCAB = 20_000

    def generate(self, workdir: str, seed: int) -> None:
        rng = np.random.default_rng([seed, 1])
        keys = rng.integers(0, 256, size=(self.RECORDS, self.KEY_BYTES), dtype=np.uint8)
        values = rng.integers(0, 256, size=(self.RECORDS, self.VALUE_BYTES), dtype=np.uint8)
        if len(np.unique(keys.view(f"V{self.KEY_BYTES}"))) != self.RECORDS:
            raise ValueError("teragen drew a duplicate key; the sort order would be ambiguous")
        self.tera_path = _write(
            pa.table({"key": _binary_column(keys), "value": _binary_column(values)}),
            os.path.join(workdir, "tera.parquet"),
        )
        order = np.lexsort(keys.T[::-1])  # bytewise key order, first byte major
        self.ref_terasort = (
            hashlib.sha256(keys[order].tobytes()).hexdigest(),
            hashlib.sha256(values[order].tobytes()).hexdigest(),
        )
        # sort: group by the 2-byte key prefix -> (rows, sum of crc32(value))
        raw, w = values.tobytes(), self.VALUE_BYTES
        crc = np.fromiter(
            (zlib.crc32(raw[i : i + w]) for i in range(0, len(raw), w)),
            dtype=np.int64,
            count=self.RECORDS,
        )
        prefix = keys[:, 0].astype(np.int64) * 256 + keys[:, 1]
        counts = np.bincount(prefix, minlength=65536)
        sums = np.zeros(65536, dtype=np.int64)
        np.add.at(sums, prefix, crc)
        present = np.nonzero(counts)[0]
        self.ref_sort = (present, counts[present], sums[present])
        # wordcount: Zipf-distributed tokens, 4-16 per line
        vocab = _vocabulary(rng, self.VOCAB)
        lengths = rng.integers(4, 17, size=self.LINES)
        ids = (rng.zipf(1.2, size=int(lengths.sum())) - 1) % self.VOCAB
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        words = vocab[ids].tolist()
        lines = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(self.LINES)]
        self.text_path = _write(pa.table({"line": lines}), os.path.join(workdir, "text.parquet"))
        counts = np.bincount(ids, minlength=self.VOCAB)
        self.ref_wordcount = {str(vocab[i]): int(counts[i]) for i in np.nonzero(counts)[0]}

    def load(self, spark) -> None:
        self.tera = spark.read.parquet(self.tera_path)
        self.text = spark.read.parquet(self.text_path)

    def input_bytes(self, kind: str) -> int:
        return input_size(self.text_path if kind == "wordcount" else self.tera_path)

    def run(self, kind: str, n: int, tracer):
        from pyspark.sql import functions as F

        from uda_spark.operators import kv, sort, workloads

        if kind == "terasort":
            with tracer.span("sort.total_order_sort"):
                out = sort.total_order_sort(self.tera, ["key"])
                table = out.toArrow()
            with tracer.span("sort.validate_sorted"):
                valid = sort.validate_sorted(out, ["key"])
            tracer.note_plan(out)
            return table, valid
        if kind == "sort":
            with tracer.span("kv.partition_and_merge"):
                merged = kv.partition_and_merge(
                    self.tera.select(F.substring("key", 1, 2).alias("k"), "value"), ["k"]
                )
            with tracer.span("kv.reduce_merged"):
                out = kv.reduce_merged(
                    merged, ["k"], F.count("*").alias("n"), F.sum(F.crc32("value")).alias("s")
                )
                table = out.toArrow()
            tracer.note_plan(out)
            return table
        with tracer.span("workloads.wordcount"):
            out = workloads.wordcount(self.text, "line")
            table = out.toArrow()
        tracer.note_plan(out)
        return table

    def check(self, kind: str, n: int, output) -> bool:
        if kind == "terasort":
            table, valid = output
            got = (
                hashlib.sha256(binary_bytes(table.column("key"))).hexdigest(),
                hashlib.sha256(binary_bytes(table.column("value"))).hexdigest(),
            )
            return bool(valid) and table.num_rows == self.RECORDS and got == self.ref_terasort
        if kind == "sort":
            k = np.frombuffer(binary_bytes(output.column("k")), dtype=np.uint8)
            if k.size != 2 * output.num_rows:
                return False
            prefix = k[0::2].astype(np.int64) * 256 + k[1::2]
            order = np.argsort(prefix)
            want_p, want_n, want_s = self.ref_sort
            return (
                np.array_equal(prefix[order], want_p)
                and np.array_equal(output.column("n").to_numpy()[order], want_n)
                and np.array_equal(output.column("s").to_numpy()[order], want_s)
            )
        got = dict(zip(output.column("word").to_pylist(), output.column("cnt").to_pylist()))
        return got == self.ref_wordcount


# ---------------------------------------------------------------------------

# Headline queries of ``bench.py`` that run on the JVM alone (no Python
# UDF): a join with an aggregation, a window over orders and a window over
# the events table. Three of the nineteen, so that a cycle fits the run.
HEADLINE_SUBSET = (
    "q3_shipping_priority",
    "window_rank_orders",
    "events_sessionize",
)
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _day_ts(rng, first: str, last: str, n: int) -> pa.Array:
    lo = (np.datetime64(first, "D") - _EPOCH_DAY).astype(int)
    hi = (np.datetime64(last, "D") - _EPOCH_DAY).astype(int)
    days = rng.integers(lo, hi + 1, size=n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def gen_tables(rng: np.random.Generator, orders: int, events: int) -> dict[str, pa.Table]:
    """Seeded tables in the engine's test-data schema (TESTDATA.md), with
    the value domains the headline queries filter on: the same column
    names, types and ranges as the sf0.01 set, where ``orders=15_000`` and
    ``events=10_000``."""
    n_cust, n_supp, n_part = orders // 10, max(25, orders // 150), orders * 2 // 15
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    i32, i64 = pa.int32(), pa.int64()
    t = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), i64),
                "p_name": [names[i] for i in rng.integers(0, len(names), n_part)],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": [
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                    for i in rng.integers(0, 6, n_part)
                ],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(orders), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, orders), i64),
                "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, orders)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, orders),
                "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", orders),
                "o_orderpriority": [
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                    for i in rng.integers(0, 5, orders)
                ],
            }
        ),
    }
    n_li = 4 * orders
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, orders, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    # events: one month of distinct, increasing microsecond timestamps
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, size=events, replace=False)) + 1_704_067_200_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(events), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, events), i64),
            "event_type": [
                ["click", "error", "purchase", "signup", "view"][i]
                for i in rng.integers(0, 5, events)
            ],
            "value": _money(rng, 0.01, 490.0, events),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, events)],
        }
    )
    return t


def _normalize(value):
    """A comparable, total-order form of one result value; floats compare
    by their exact repr (the queries are engine-exact by design)."""
    if value is None:
        return (0, "")
    if isinstance(value, float):
        return (1, "NaN") if value != value else (1, repr(value + 0.0))
    if isinstance(value, bytes):
        return (1, value.hex())
    if hasattr(value, "tzinfo") and value.tzinfo is not None:
        value = value.replace(tzinfo=None) - value.utcoffset()
    return (1, value)


def result_rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, as sorted normalized tuples."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_normalize(row[i]) for i in idx) for row in rows)


class HeadlineQueries:
    """A seeded order of a subset of the headline queries over seeded tables,
    through ``registry.all_specs()``, checked against the DuckDB oracles of
    ``registry.get_oracles()``."""

    kinds = ("queries",)
    ORDERS, EVENTS = 15_000, 10_000

    def generate(self, workdir: str, seed: int) -> None:
        rng = np.random.default_rng([seed, 4])
        self.query_names = [HEADLINE_SUBSET[i] for i in rng.permutation(len(HEADLINE_SUBSET))]
        self.sf_dir = os.path.join(workdir, "tables")
        for name, table in gen_tables(rng, self.ORDERS, self.EVENTS).items():
            _write(table, os.path.join(self.sf_dir, f"{name}.parquet"), parts=1)
        self.ref = {}
        for name, table in self.oracle_results().items():
            if not table.num_rows:
                raise ValueError(f"{name}: the reference result is empty")
            self.ref[name] = self._rows(table)

    def oracle_results(self) -> dict[str, pa.Table]:
        """Each query's DuckDB oracle (``registry.get_oracles()``) run over
        the generated tables."""
        import duckdb

        from uda_spark import registry

        oracles = registry.get_oracles()
        con = duckdb.connect()
        try:
            for name in QUERY_TABLES:
                path = os.path.join(self.sf_dir, f"{name}.parquet", "*.parquet")
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            return {name: con.sql(oracles[name]).arrow() for name in self.query_names}
        finally:
            con.close()

    @staticmethod
    def _rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
        cols = [c.lower() for c in table.column_names]
        return sorted(cols), result_rows(cols, zip(*(c.to_pylist() for c in table.columns)))

    def load(self, spark) -> None:
        """Look the queries up in the registry and route the engine's
        table loads through a tracer span."""
        from uda_spark import registry
        from uda_spark.queries import common

        specs = registry.all_specs()
        self.fns = {n: specs[n].fn for n in self.query_names}
        self.spark, self.tracer = spark, None
        load_table = common.load_table

        def traced_load_table(spark, sf_dir, name):
            with self.tracer.span("sources.load_table"):
                return load_table(spark, sf_dir, name)

        # every query module reads its tables through common.t -> load_table
        common.load_table = traced_load_table

    def input_bytes(self, kind: str) -> int:
        return sum(input_size(e.path) for e in os.scandir(self.sf_dir))

    def run(self, kind: str, n: int, tracer):
        self.tracer = tracer
        out = {}
        for name in self.query_names:
            with tracer.span(f"queries.{name}.build"):
                df = self.fns[name](self.spark, self.sf_dir)
            with tracer.span(f"queries.{name}.execute"):
                out[name] = df.toArrow()
            tracer.note_plan(df)
        return out

    def check(self, kind: str, n: int, output) -> bool:
        return sorted(output) == sorted(self.query_names) and all(
            self._rows(output[name]) == self.ref[name] for name in self.query_names
        )


# ---------------------------------------------------------------------------

N_HASHES, BANDS, SHINGLE_K, JACCARD_T = 16, 4, 3, 0.5


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) >= k:
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return {" ".join(toks)}


def minhash_bands(shingles: set[str]) -> list[tuple[str, ...]]:
    """The engine's MinHash family, restated: hash h is hex chunk h mod 4
    of md5(f"{h div 4}|{shingle}"), min over the shingles; band b holds
    hashes 4b..4b+3."""
    raw = [s.encode("utf-8") for s in shingles]
    sig = []
    for salt in range(N_HASHES // 4):
        digs = [hashlib.md5(b"%d|" % salt + s).hexdigest() for s in raw]
        sig.extend(min(d[c : c + 8] for d in digs) for c in range(0, 32, 8))
    per = N_HASHES // BANDS
    return [tuple(sig[b * per : (b + 1) * per]) for b in range(BANDS)]


def near_dup_pairs(ids: list[int], texts: list[str]) -> dict[tuple[int, int], float]:
    """LSH-banded MinHash candidates verified by exact shingle Jaccard."""
    sets = {i: shingle_set(t) for i, t in zip(ids, texts)}
    buckets: dict[tuple, list[int]] = {}
    for i in ids:
        for b, band in enumerate(minhash_bands(sets[i])):
            buckets.setdefault((b, band), []).append(i)
    cand = set()
    for members in buckets.values():
        members = sorted(members)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add((members[x], members[y]))
    out = {}
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= JACCARD_T:
            out[(a, b)] = jac
    return out


def min_labels(pairs) -> dict[int, int]:
    """Connected components of the pair graph, each node labelled with the
    smallest id in its component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TextDedup:
    """Near-dup text detection on a corpus with planted clusters: Arrow
    Python kernels, the LSH band join and the iterative CC job loop."""

    kinds = ("dedup",)
    BASE_DOCS = 400
    VOCAB = 5_000
    # Chain families: document j of a family is a window of CHAIN_WINDOW
    # segments of CHAIN_SEGMENT tokens, sliding one segment per document,
    # over one token sequence. Neighbours up to three steps apart pass the
    # Jaccard threshold, four steps do not, so a family is a component of
    # diameter up to five and the CC loop runs past its minimum of two
    # rounds. The widest family sets the round count; out of forty, it
    # spans four hops from its smallest id on 18 of 20 seeds.
    CHAINS, CHAIN_LEN, CHAIN_WINDOW, CHAIN_SEGMENT = 40, 6, 12, 10

    def generate(self, workdir: str, seed: int) -> None:
        rng = np.random.default_rng([seed, 2])
        vocab = _vocabulary(rng, self.VOCAB)

        def tokens(n: int) -> list[str]:
            return vocab[(rng.zipf(1.1, size=n) - 1) % self.VOCAB].tolist()

        # The seed sets the duplicate share and the edit rate, in narrow
        # bands. Each planted edited copy duplicates a distinct base
        # document, so those clusters are pairs.
        self.dup_share = 0.30 + 0.05 * float(rng.random())
        self.edit_rate = 0.005 + 0.01 * float(rng.random())
        docs = [tokens(int(rng.integers(80, 161))) for _ in range(self.BASE_DOCS)]
        n_dups = int(round(self.dup_share * self.BASE_DOCS))
        for base in rng.choice(self.BASE_DOCS, size=n_dups, replace=False):
            copy = list(docs[int(base)])
            n_edit = max(1, int(round(self.edit_rate * len(copy))))
            for pos in rng.choice(len(copy), size=n_edit, replace=False):
                copy[int(pos)] = str(vocab[int(rng.integers(0, self.VOCAB))])
            docs.append(copy)
        seg, win = self.CHAIN_SEGMENT, self.CHAIN_WINDOW
        for _ in range(self.CHAINS):
            # uniform tokens: no shingle repeats, so the Jaccard of two
            # family members depends on their distance alone
            seq = vocab[rng.integers(0, self.VOCAB, size=(self.CHAIN_LEN - 1 + win) * seg)].tolist()
            docs.extend(seq[j * seg : (j + win) * seg] for j in range(self.CHAIN_LEN))
        ids = list(range(len(docs)))
        texts = [" ".join(d) for d in docs]
        self.n_docs = len(ids)
        self.docs_path = _write(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(workdir, "documents.parquet"),
        )
        self.ref_pairs = near_dup_pairs(ids, texts)
        self.ref_labels = min_labels(self.ref_pairs)
        self.ref_survivors = self.n_docs - len(self.ref_labels) + len(set(self.ref_labels.values()))

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path)

    def input_bytes(self, kind: str) -> int:
        return input_size(self.docs_path)

    def run(self, kind: str, n: int, tracer):
        from uda_spark.operators import dedup

        with tracer.span("dedup.minhash_near_dup_pairs"):
            pairs = dedup.minhash_near_dup_pairs(self.docs, "text", "doc_id")
            pair_table = pairs.toArrow()
        with tracer.span("dedup.connected_components"):
            labels = dedup.connected_components(pairs)
            label_table = labels.toArrow()
        tracer.note_plan(pairs)
        components = label_table.column("component").to_pylist()
        survivors = self.n_docs - len(components) + len(set(components))
        return pair_table, label_table, survivors

    def check(self, kind: str, n: int, output) -> bool:
        pair_table, label_table, survivors = output
        pairs = {
            (a, b): j
            for a, b, j in zip(
                pair_table.column("doc_a").to_pylist(),
                pair_table.column("doc_b").to_pylist(),
                pair_table.column("jaccard").to_pylist(),
            )
        }
        labels = dict(
            zip(label_table.column("node").to_pylist(), label_table.column("component").to_pylist())
        )
        return (
            pair_table.num_rows == len(pairs)
            and label_table.num_rows == len(labels)
            and pairs == self.ref_pairs
            and labels == self.ref_labels
            and survivors == self.ref_survivors
        )


# ---------------------------------------------------------------------------

FIXED_POINT = 1_000_000


def hash60(text: str) -> int:
    """The engine's 60-bit hash: the first 15 hex digits of md5."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


def nearest(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Index of the nearest centroid by exact int64 squared distance, ties
    to the lowest index."""
    d2 = (x * x).sum(1)[:, None] - 2 * (x @ cents.T) + (cents * cents).sum(1)[None, :]
    return np.argmin(d2, axis=1)


def coarse_quantizer(ids: np.ndarray, vecs: np.ndarray, target: int, salt: str = "km") -> np.ndarray:
    """Cluster per row of the hash-seeded, one-Lloyd-step integer k-means
    the engine's SemDeDup quantizer defines."""
    n = len(ids)
    k = (n + target - 1) // target
    stride = max(n // k, 1)
    min_id = int(ids.min())
    seeded = [
        i for i in range(n) if hash60(f"{salt}|{int(ids[i])}") % stride == 0 or ids[i] == min_id
    ]
    seeded.sort(key=lambda i: ids[i])
    a1 = nearest(vecs, vecs[seeded])
    cids = np.unique(a1)
    c1 = np.empty((len(cids), vecs.shape[1]), dtype=np.int64)
    for row, c in enumerate(cids):
        members = vecs[a1 == c]
        total = members.sum(0)
        # SQL `div` truncates toward zero
        c1[row] = np.sign(total) * (np.abs(total) // len(members))
    return cids[nearest(vecs, c1)]


def cosine_scores(queries: np.ndarray, corpus: np.ndarray) -> np.ndarray:
    """Cosine of exact integer dot products, in the engine's operation
    order."""
    dots = (queries @ corpus.T).astype(np.float64)
    qn = np.sqrt((queries * queries).sum(1).astype(np.float64))
    cn = np.sqrt((corpus * corpus).sum(1).astype(np.float64))
    return dots / (qn[:, None] * cn[None, :])


class VectorSearch:
    """Clustered embeddings: index builds (the coarse quantizer) alternate
    with exact kNN query batches, so trading one for the other shows."""

    kinds = ("build", "query")

    CORPUS, DIM, CENTERS = 4_000, 64, 48
    BATCHES, BATCH_QUERIES, TOP_K = 4, 6, 10
    TARGET_CLUSTER = 200
    QUERY_ID0 = 1_000_000_000

    def _vectors(self, rng, centers, n) -> np.ndarray:
        pick = rng.integers(0, len(centers), size=n)
        noise = rng.integers(-60_000, 60_001, size=(n, self.DIM))
        return centers[pick] + noise

    def generate(self, workdir: str, seed: int) -> None:
        rng = np.random.default_rng([seed, 3])
        centers = rng.integers(-300_000, 300_001, size=(self.CENTERS, self.DIM))
        ivec = self._vectors(rng, centers, self.CORPUS)
        queries = self._vectors(rng, centers, self.BATCHES * self.BATCH_QUERIES)
        # float32 embeddings whose fixed-point image is exactly the integers
        emb = (ivec / FIXED_POINT).astype(np.float32)
        qemb = (queries / FIXED_POINT).astype(np.float32)
        for f, i in ((emb, ivec), (qemb, queries)):
            if not np.array_equal(np.round(f.astype(np.float64) * FIXED_POINT), i):
                raise ValueError("float32 embeddings do not round-trip to their integers")
        ids = np.arange(self.CORPUS, dtype=np.int64)
        self.corpus_path = _write(
            pa.table(
                {
                    "id": ids,
                    "emb": _vec_column(emb, pa.float32()),
                    "vec": _vec_column(ivec, pa.int64()),
                }
            ),
            os.path.join(workdir, "embeddings.parquet"),
        )
        qids = self.QUERY_ID0 + np.arange(len(queries), dtype=np.int64)
        self.query_path = _write(
            pa.table(
                {
                    "id": qids,
                    "batch": np.repeat(np.arange(self.BATCHES), self.BATCH_QUERIES),
                    "emb": _vec_column(qemb, pa.float32()),
                }
            ),
            os.path.join(workdir, "queries.parquet"),
            parts=1,
        )
        self.ref_clusters = dict(
            zip(ids.tolist(), coarse_quantizer(ids, ivec, self.TARGET_CLUSTER).tolist())
        )
        self.ref_scores = {int(q): row for q, row in zip(qids, cosine_scores(queries, ivec))}

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        corpus = spark.read.parquet(self.corpus_path)
        self.vec_corpus = corpus.select("id", "vec")
        self.emb_corpus = corpus.select("id", "emb")
        q = spark.read.parquet(self.query_path)
        self.query_batches = [
            q.where(F.col("batch") == b).select("id", "emb") for b in range(self.BATCHES)
        ]

    def input_bytes(self, kind: str) -> int:
        extra = input_size(self.query_path) // self.BATCHES if kind == "query" else 0
        return input_size(self.corpus_path) + extra

    def run(self, kind: str, n: int, tracer):
        from uda_spark.operators import similarity

        if kind == "build":
            with tracer.span("similarity.semdedup_coarse_quantizer"):
                out = similarity.semdedup_coarse_quantizer(
                    self.vec_corpus, "id", "vec", target_cluster_size=self.TARGET_CLUSTER
                ).select("id", "cluster")
                table = out.toArrow()
        else:
            batch = self.query_batches[n % self.BATCHES]
            with tracer.span("similarity.knn_bruteforce"):
                out = similarity.knn_bruteforce(
                    self.emb_corpus, batch, "id", "emb", top_k=self.TOP_K
                )
                table = out.toArrow()
        tracer.note_plan(out)
        return table

    def check(self, kind: str, n: int, output) -> bool:
        if kind == "build":
            got = dict(zip(output.column("id").to_pylist(), output.column("cluster").to_pylist()))
            return output.num_rows == len(got) and got == self.ref_clusters
        batch = n % self.BATCHES
        want_q = range(
            self.QUERY_ID0 + batch * self.BATCH_QUERIES,
            self.QUERY_ID0 + (batch + 1) * self.BATCH_QUERIES,
        )
        rows: dict[int, list[tuple[int, int, float]]] = {}
        for q, nb, score, rank in zip(
            *(output.column(c).to_pylist() for c in ("query_id", "neighbor_id", "score", "rank"))
        ):
            rows.setdefault(q, []).append((rank, nb, score))
        if sorted(rows) != list(want_q):
            return False
        # Scores are rounded to 6 decimals, so ties at that resolution may
        # legitimately pick different neighbours: compare score lists.
        tol = 1.01e-6
        for q, hits in rows.items():
            hits.sort()
            exact = self.ref_scores[q]
            best = np.sort(exact)[::-1][: self.TOP_K]
            if [r for r, _, _ in hits] != list(range(1, self.TOP_K + 1)):
                return False
            if len({nb for _, nb, _ in hits}) != self.TOP_K:
                return False
            for (_, nb, score), want in zip(hits, best):
                if not (0 <= nb < len(exact)) or abs(exact[nb] - score) > tol or abs(want - score) > tol:
                    return False
        return True


class Workload:
    """A workload made of parts, each owning some of the job kinds; the
    cycle runs every kind of every part once, in ``kinds`` order."""

    name: str
    why: str
    warmup_cycles: int
    cycle_s: float
    part_types: tuple = ()

    def __init__(self):
        self.parts = [t() for t in self.part_types]
        self.kinds = tuple(k for p in self.parts for k in p.kinds)

    def _part(self, kind: str):
        return next(p for p in self.parts if kind in p.kinds)

    def generate(self, workdir: str, seed: int) -> None:
        for p in self.parts:
            p.generate(workdir, seed)

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def input_bytes(self, kind: str) -> int:
        return self._part(kind).input_bytes(kind)

    def run(self, kind: str, n: int, tracer):
        return self._part(kind).run(kind, n, tracer)

    def check(self, kind: str, n: int, output) -> bool:
        return self._part(kind).check(kind, n, output)


class ShuffleSort(Workload):
    name = "shuffle_sort"
    why = (
        "UDA's acceptance jobs (terasort, sort, wordcount) on the JVM alone: "
        "shuffle stages fill most of each job, and no Python worker, dedup, "
        "vector or query code runs"
    )
    part_types = (AcceptanceJobs,)
    warmup_cycles = 3
    cycle_s = 3.0


class SmallJobs(Workload):
    # The headline queries run here, not beside the acceptance jobs: with
    # them, the acceptance jobs no longer fit Spark's generated-code cache
    # and recompile on every job. Terasort then ran 1.4x slower, and sort
    # and wordcount settled at one of two speeds, 2x apart, per run.
    name = "small_jobs"
    why = (
        "many small Spark jobs per call, about half their time outside Spark "
        "stages, plus Python Arrow kernels: MinHash dedup with its CC loop, "
        "vector index builds and kNN, three headline queries"
    )
    part_types = (TextDedup, VectorSearch, HeadlineQueries)
    warmup_cycles = 2
    cycle_s = 8.0


WORKLOADS = {w.name: w for w in (ShuffleSort, SmallJobs)}
