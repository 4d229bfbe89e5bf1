"""Deduplication operators for large-scale document corpora (north-star).

Scale design (100 TB corpus):
  * exact dedup — hash-groupBy on a digest of the content, never on the
    content itself: the shuffle moves 32-byte keys + doc ids, not bodies.
  * MinHash/LSH near-dup — per-doc signatures are computed map-side by
    one Arrow kernel per batch (no shuffle); only (band, band-hash,
    doc_id) triples shuffle for the band join, and candidate verification
    re-joins the (small) candidate set back to the shingle arrays.
  * SimHash — one 60-bit integer per doc from the same kind of kernel;
    near-dup = small Hamming distance, bucketed by signature prefix for
    the scale path.

Every per-document tokenize/shingle/signature step runs in an Arrow
kernel (:func:`text_kernel`) over one Python tokenizer
(:func:`_doc_grams`), the parity-tested twin of ``portable.tokens`` and
``portable.shingles``.  Everything is deterministic and engine-portable
(functions/portable.py), so each operator has a DuckDB oracle in
uda_spark/queries/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from uda_spark.operators.sort import snapshot as _snapshot
from uda_spark.operators.sort import snapshot_lazy as _snapshot_lazy

from uda_spark import cache
from uda_spark.functions import portable
from uda_spark.plans import partitioning as PART


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per distinct content digest.

    groupBy(md5(content)) — the canonical exact-dedup shape: the exchange
    key is a fixed-width digest regardless of document size.
    """
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def with_shingles(df: DataFrame, text_col: str, k: int = 3) -> DataFrame:
    toks = portable.tokens(text_col, "spark")
    return df.withColumn("shingles", F.expr(portable.shingles(toks, k, "spark")))


def _doc_grams(k: int):
    """Tokenize one document into its k-token grams, in order and with
    repeats — the Python twin of ``portable.tokens`` +
    ``portable.shingles`` (``k=1`` yields the tokens themselves).  Every
    Arrow text kernel tokenizes through this one factory.

    Parity contract (tests/test_operators.py::TestArrowTextKernels::
    test_tokenizer_parity): ``str.lower()`` equals Spark's ``lower()``
    and ``str.split(' ')`` equals Spark's ``split(_, ' ')`` (both keep
    empty strings, including leading/trailing); md5 over UTF-8 bytes
    equals Spark's ``md5``.
    """

    def grams(text: str) -> list[str]:
        toks = text.lower().split(" ")
        n = len(toks)
        if n >= k:
            return [" ".join(toks[i : i + k]) for i in range(n - k + 1)]
        return [" ".join(toks)]

    return grams


def text_kernel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gen,
    fields: list[tuple[str, DataType]],
) -> DataFrame:
    """Run a per-document Arrow kernel: ``gen`` maps batches of
    (doc, _text) to batches of (doc, *fields).

    The id column passes through at its own type: a kernel emits the
    input id array (or a ``take`` of it) as its first column, and the
    output schema takes that column's type from ``df.schema[id_col]``.
    The text column must be a string — anything else raises TypeError
    here rather than inside a Python worker.
    """
    text_type = df.schema[text_col].dataType
    if not isinstance(text_type, StringType):
        raise TypeError(
            f"text kernel needs a string text column: {text_col!r} is "
            f"{text_type.simpleString()}"
        )
    schema = StructType(
        [StructField("doc", df.schema[id_col].dataType)]
        + [StructField(name, dtype) for name, dtype in fields]
    )
    return df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_text")
    ).mapInArrow(gen, schema)


def gram_hash_rows_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int, counts: bool = False
) -> DataFrame:
    """(doc, gh[, c]): 60-bit portable gram hashes per document, computed
    in one map-only Arrow pass (no explode, no per-doc exchange).

    A document's grams live entirely in its own row, so BOTH the per-doc
    distinct (``counts=False``; the decontaminate shape) and the per-doc
    occurrence count (``counts=True``; the dup-coverage shape) need no
    exchange at all.  Value parity with the oracle's
    ``unnest(shingles) -> hash60`` relation:

    - ``int(md5(g).hexdigest()[:15], 16)`` == ``portable.hash60(g)``
      (same big-endian fold of the first 15 hex chars).
    - tokenize/shingle is the parity-tested :func:`_doc_grams` contract.
    - NULL text mirrors an explode exactly: shingles(NULL) is ``[NULL]``,
      md5(NULL) is NULL — one (doc, NULL gh[, c=1]) row.
    - collisions of two distinct grams within one doc merge into one gh,
      as grouping on gh does.
    """
    doc_grams = _doc_grams(k)

    def gen(batches):
        from collections import Counter
        from hashlib import md5

        import pyarrow as pa

        for batch in batches:
            texts = batch.column(1).to_pylist()
            out_i: list[int] = []
            out_g: list = []
            out_c: list[int] = []
            for i, txt in enumerate(texts):
                if txt is None:
                    out_i.append(i)
                    out_g.append(None)
                    out_c.append(1)
                    continue
                cc = Counter(
                    int(md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    for g in doc_grams(txt)
                )
                ghs = sorted(cc)
                out_i.extend([i] * len(ghs))
                out_g.extend(ghs)
                out_c.extend(cc[gh] for gh in ghs)
            arrays = [
                batch.column(0).take(pa.array(out_i, pa.int64())),
                pa.array(out_g, pa.int64()),
            ]
            names = ["doc", "gh"]
            if counts:
                arrays.append(pa.array(out_c, pa.int64()))
                names.append("c")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    fields = [("gh", LongType())] + ([("c", LongType())] if counts else [])
    return text_kernel(df, text_col, id_col, gen, fields)


def _minhash_grouped_arrow(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int, k: int
) -> DataFrame:
    """Map-only MinHash: (doc, h0..h{n-1}, sset) computed per document
    inside one ``mapInArrow`` pass — no shingle explode, no md5
    projection rows, no hash-aggregate exchange (every doc's shingles
    live in its own row, so the per-doc MIN needs no shuffle at all).

    Same salted md5 family as the ``shingle_rows`` aggregate in
    :func:`_minhash_grouped` and the oracle's ``minhash_sig_duck``
    (md5(f"{salt}|{shingle}") over UTF-8 bytes, hex chunks of 8), same
    bytewise min (ASCII hex, so Python ``min`` == UTF8String binary
    min); ``sset`` is sorted (every consumer is order-insensitive: sizes
    and ``array_intersect`` only).
    """
    doc_grams = _doc_grams(k)
    n_salts = n_hashes // 4

    def gen(batches):
        from hashlib import md5

        import pyarrow as pa

        for batch in batches:
            texts = batch.column(1).to_pylist()
            hcols: list[list[str]] = [[] for _ in range(4 * n_salts)]
            ssets: list[list[str]] = []
            for txt in texts:
                if txt is None:
                    raise ValueError(
                        "minhash kernel received NULL text — filter upstream"
                    )
                sl = sorted(set(doc_grams(txt)))
                ssets.append(sl)
                raw = [s.encode("utf-8") for s in sl]
                h = 0
                for salt in range(n_salts):
                    pre = b"%d|" % salt
                    digs = [md5(pre + b).hexdigest() for b in raw]
                    for c in range(0, 32, 8):
                        hcols[h].append(min(d[c : c + 8] for d in digs))
                        h += 1
            arrays = [batch.column(0)]
            names = ["doc"]
            for i, col in enumerate(hcols):
                arrays.append(pa.array(col, pa.string()))
                names.append(f"h{i}")
            arrays.append(pa.array(ssets, pa.list_(pa.string())))
            names.append("sset")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    fields = [(f"h{i}", StringType()) for i in range(n_hashes)]
    fields.append(("sset", ArrayType(StringType())))
    return text_kernel(df, text_col, id_col, gen, fields)


def _minhash_grouped(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    k: int,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(doc, h0..h{n-1}, sset): per-doc MinHash values as COLUMNS plus the
    distinct shingle set, computed by the Arrow kernel
    :func:`_minhash_grouped_arrow`.

    ``shingle_rows`` (columns: doc, s — one row per distinct per-doc
    shingle, built with the same tokenizer/k) lets a caller that also
    feeds another shingle consumer (e.g. the exact ssjoin in
    dedup_lsh_recall_eval) pay the corpus shingle pass ONCE; the same
    hash family then runs as an md5 projection plus one hash aggregate,
    and persist responsibility stays with that caller.

    NULL contract: documents whose text is NULL have no MinHash — they
    produce NO output row and can never appear as near-dup candidates.
    Empty and short texts DO sign: the tokenizer keeps empty strings and
    sub-k-token docs yield one whole-doc shingle (portable.shingles), so
    e.g. all empty documents are mutual near-duplicates — the curation-
    friendly reading.
    """
    if shingle_rows is None:
        # spread the per-doc kernel over all cores: the local corpus scan
        # is a handful of splits
        return _minhash_grouped_arrow(
            PART.ensure_min_partitions(df.where(F.col(text_col).isNotNull())),
            text_col,
            id_col,
            n_hashes,
            k,
        )
    with_md5 = shingle_rows.select(
        "doc",
        "s",
        *[
            F.expr(f"md5(concat('{salt}', '|', s))").alias(f"m{salt}")
            for salt in range(n_hashes // 4)
        ],
    )
    mins = [
        F.min(F.expr(f"substring(m{h // 4}, {(h % 4) * 8 + 1}, 8)")).alias(f"h{h}")
        for h in range(n_hashes)
    ]
    return with_md5.groupBy("doc").agg(*mins, F.collect_set("s").alias("sset"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, h, sig) MinHash rows (posexploded signature array)."""
    grouped = _minhash_grouped(df, text_col, id_col, n_hashes, k)
    sig = F.array(*[F.col(f"h{h}") for h in range(n_hashes)])
    return grouped.select(
        F.col("doc").alias(id_col), F.posexplode(sig).alias("h", "sig")
    )


def _banded(grouped: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bh) LSH band rows from a ``_minhash_grouped`` relation:
    band hash = md5 over that band's signature slice.  Only these triples
    ever shuffle — never shingle sets or document bodies."""
    rows_per_band = n_hashes // bands
    band_structs = [
        "named_struct('band', {b}, 'bh', md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"h{h}" for h in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    ]
    return grouped.select(
        "doc",
        F.explode(F.expr(f"array({', '.join(band_structs)})")).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def cap_buckets(
    banded: DataFrame, max_bucket_size: int, keys: tuple[str, ...] = ("band", "bh")
) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket_size`` members —
    the standard skew guard for banded joins.

    A degenerate bucket (thousands of boilerplate-identical docs sharing
    a band hash) makes the band self-join quadratic IN ONE KEY; AQE can
    split the shuffle partition but not the semantic blowup.  Over-full
    buckets carry no discriminative signal (everything matches
    everything), so production LSH systems drop them and let the exact
    tier (or another band) catch true duplicates.  Cost: one
    bucket-count aggregation + a semi join on the same keys — the same
    partitioning, so AQE reuses the exchange.
    """
    small = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_bucket_size)
        .select(*keys)
    )
    return banded.join(small, on=list(keys), how="left_semi")


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of their MinHash signature become
    candidate pairs; candidates are verified with exact shingle-set Jaccard.

    Shuffle profile: one exchange of (band, band_hash, id) triples, a
    self-join on the (tiny) matching buckets, then a re-join to fetch the
    two shingle arrays for verification.  Document bodies never shuffle.
    ``max_bucket_size`` (None = unlimited, the oracle-matched default)
    enables the :func:`cap_buckets` skew guard for corpora with massive
    boilerplate-duplicate groups.  ``shingle_rows`` (doc, s) substitutes
    a caller-computed distinct shingle relation for the internal corpus
    shingle pass (see :func:`_minhash_grouped`).
    """
    # Tracked persist: the signature relation feeds the band explode AND
    # both sides of the candidate-verification join — without it the
    # (md5-heavy) shingle/signature subtree is recomputed three times.
    # Long-lived callers release via uda_spark.cache.release_persisted().
    g = _minhash_grouped(df, text_col, id_col, n_hashes, k, shingle_rows)
    if shingle_rows is None:
        # The Arrow kernel is map-only, so the persisted relation would
        # carry the scan partitioning and both verify joins below would
        # each exchange the sset projection (the heavy shingle arrays)
        # by doc.  One explicit doc repartition BEFORE the persist moves
        # the arrays once and is reused by both joins (the shingle_rows
        # aggregate already ends partitioned by doc).  Interleaved 3-way
        # A/B at sf0.1/32c, med of 6: kernel 1.46 / kernel+repart 1.31 /
        # relational 1.33.
        g = g.repartition(F.col("doc"))
    sh = cache.tracked_persist(g)
    banded = _banded(sh, n_hashes, bands)
    if max_bucket_size is not None:
        banded = cap_buckets(banded, max_bucket_size)

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bh"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    sets = sh.select("doc", "sset")
    pairs = (
        cand.join(sets.withColumnsRenamed({"doc": "doc_a", "sset": "set_a"}), on="doc_a")
        .join(sets.withColumnsRenamed({"doc": "doc_b", "sset": "set_b"}), on="doc_b")
        .withColumn("n_inter", F.expr("size(array_intersect(set_a, set_b))"))
        .withColumn(
            "jaccard",
            F.expr("CAST(n_inter AS DOUBLE) / (size(set_a) + size(set_b) - n_inter)"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def incremental_dedup(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch of documents against an EXISTING base corpus —
    the training-data refresh operation ("drop what the last crawl
    already has").  Output: one row per new document, (id, verdict) with
    verdict in ('exact_dup', 'near_dup', 'keep'); exact wins over near.

    Cross-side only by contract: duplicates WITHIN the new batch are not
    flagged here (compose with exact_dedup / minhash_near_dup_pairs for
    self-dedup).

    Scale shape (100 TB base, daily-crawl new batch): the exact tier
    joins 32-byte digests keyed by digest — bodies never move.  The near
    tier is the banded-LSH join across sides: (band, bh, id) triples
    shuffle, candidates verify by exact shingle-set Jaccard, and the
    base side's signature relation is exactly what a production deploy
    would precompute once and persist as a signature store — recomputing
    it here keeps the operator self-contained, swapping in a stored
    relation is a one-line change.
    """
    new_hash = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    base_hash = base_df.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    exact_ids = (
        new_hash.join(base_hash, on="content_hash", how="left_semi")
        .select(F.col(id_col).alias("_exact_id"))
        .distinct()
    )

    def _grouped_for_join(side: DataFrame) -> DataFrame:
        # same layout reasoning as minhash_near_dup_pairs: the map-only
        # kernel output repartitions by doc once so the verify joins (on
        # the renamed doc) reuse the persisted partitioning instead of
        # exchanging the sset arrays.
        return _minhash_grouped(side, text_col, id_col, n_hashes, k).repartition(
            F.col("doc")
        )

    ng = cache.tracked_persist(_grouped_for_join(new_df))
    bg = cache.tracked_persist(_grouped_for_join(base_df))
    nb = _banded(ng, n_hashes, bands)
    bb = _banded(bg, n_hashes, bands)
    if max_bucket_size is not None:
        # cap each side: a bucket's join width is |new-side| × |base-side|
        nb = cap_buckets(nb, max_bucket_size)
        bb = cap_buckets(bb, max_bucket_size)
    cand = (
        nb.withColumnRenamed("doc", "new_id")
        .join(bb.withColumnRenamed("doc", "base_id"), on=["band", "bh"])
        .select("new_id", "base_id")
        .distinct()
    )
    near_ids = (
        cand.join(
            ng.select(F.col("doc").alias("new_id"), F.col("sset").alias("set_n")),
            on="new_id",
        )
        .join(
            bg.select(F.col("doc").alias("base_id"), F.col("sset").alias("set_b")),
            on="base_id",
        )
        .withColumn("n_inter", F.expr("size(array_intersect(set_n, set_b))"))
        .where(
            F.expr("CAST(n_inter AS DOUBLE) / (size(set_n) + size(set_b) - n_inter)")
            >= jaccard_threshold
        )
        .select(F.col("new_id").alias("_near_id"))
        .distinct()
    )
    return (
        new_df.select(id_col)
        .join(exact_ids, new_df[id_col] == exact_ids["_exact_id"], "left")
        .join(near_ids, new_df[id_col] == near_ids["_near_id"], "left")
        .select(
            F.col(id_col),
            F.when(F.col("_exact_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sig) 60-bit SimHash per document, computed map-only in one
    Arrow pass (a doc's tokens live in its own row, so the vote sums
    need no shuffle).

    Vote i of token t is the high bit of hex char i of
    md5(t) || md5('x' || t) (``c >= '8'`` over the hexdigest); signature
    bit i is set iff 2·ones_i − n_tokens >= 0, packed at 2^(60−i) — the
    definition the oracle's ``portable.simhash60_duck_sql`` spells in SQL.
    Exact integer arithmetic throughout; duplicate tokens vote once per
    OCCURRENCE (Counter-weighted).  Per-batch digest memoization is a
    pure cache — votes depend only on the token bytes.

    NULL contract: documents whose text is NULL have no SimHash — they
    produce NO output row and can never appear as near-dup candidates.
    Empty text DOES sign (it tokenizes to one empty token — the
    tokenizer keeps empty strings), matching the MinHash contract.
    """
    tokenize = _doc_grams(1)
    bits = portable.SIMHASH_BITS

    def gen(batches):
        from collections import Counter
        from hashlib import md5

        import numpy as np
        import pyarrow as pa

        cache: dict[str, "np.ndarray"] = {}

        def votes(tok: str):
            v = cache.get(tok)
            if v is None:
                hx = md5(tok.encode("utf-8")).hexdigest() + md5(
                    ("x" + tok).encode("utf-8")
                ).hexdigest()
                v = np.array([1 if c >= "8" else 0 for c in hx[:bits]], dtype=np.int64)
                cache[tok] = v
            return v

        for batch in batches:
            texts = batch.column(1).to_pylist()
            sigs: list[int] = []
            for txt in texts:
                if txt is None:
                    raise ValueError(
                        "simhash kernel received NULL text — filter upstream"
                    )
                toks = tokenize(txt)
                n = len(toks)
                ones = np.zeros(bits, dtype=np.int64)
                for tok, cnt in Counter(toks).items():
                    ones += cnt * votes(tok)
                sig = 0
                for i in range(bits):
                    if 2 * int(ones[i]) - n >= 0:
                        sig += 1 << (bits - 1 - i)
                sigs.append(sig)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(sigs, pa.int64())], names=["doc", "sig"]
            )

    return text_kernel(
        PART.ensure_min_partitions(df.where(F.col(text_col).isNotNull())),
        text_col,
        id_col,
        gen,
        [("sig", LongType())],
    ).withColumnRenamed("doc", id_col)


# Hot nodes broadcast per star round are bounded: beyond this many, the
# rest stay on the window path (one task per key there; AQE's skew split
# applies to joins only), so the broadcast can never itself become the
# memory problem.
_STAR_MAX_HOT = 4096


def _min_join(
    rows: DataFrame,
    key: str,
    val: str,
    include_self: bool,
    hot_degree_threshold: int | None,
) -> DataFrame:
    """Attach ``m`` = min(val) over each key's rows (optionally also
    min'd with the key itself) to every ``(key, val)`` row — the
    per-round kernel of star CC, degree-skew-guarded.

    Unguarded it is one window, ``min(val) OVER (PARTITION BY key)``: one
    hash exchange on the key plus a sort.  An aggregate joined back to
    its own input computes the same relation with a second scan of the
    round's input, an exchange on each join side and a sort-merge join.

    A hub node (one giant near-dup family) puts ALL its rows on one key.
    With ``hot_degree_threshold`` set, keys whose degree exceeds it
    resolve through a BROADCAST of their single-row aggregates, so the
    hub's rows never shuffle on the hub key; the cold rows take the same
    window step.  The degree comes free as a COUNT alongside the MIN,
    i.e. the same readout `graph_degree_histogram` profiles — this is
    that histogram's heavy tail wired in as an execution guard, the
    join-side analog of :func:`cap_buckets`.  Hot keys beyond
    ``_STAR_MAX_HOT`` stay on the window path, so the broadcast stays
    bounded no matter how degenerate the graph.
    """

    def m(mn: Column) -> Column:
        return (F.least(mn, F.col(key)) if include_self else mn).alias("m")

    window_m = m(F.min(val).over(Window.partitionBy(key)))
    if hot_degree_threshold is None:
        return rows.select("*", window_m)
    hot = (
        rows.groupBy(key)
        .agg(F.min(val).alias("mn"), F.count("*").alias("deg"))
        .where(F.col("deg") > hot_degree_threshold)
        .orderBy(F.col("deg").desc(), key)
        .limit(_STAR_MAX_HOT)
        .select(key, m(F.col("mn")))
    )
    cold_rows = rows.join(F.broadcast(hot.select(key)), on=key, how="left_anti")
    return rows.join(F.broadcast(hot), on=key).unionByName(
        cold_rows.select("*", window_m)
    )


def _star_round(
    edges: DataFrame, hot_degree_threshold: int | None = None
) -> DataFrame:
    """One large-star + small-star alternation over a directed edge list
    (hi, lo) with hi > lo; returns a new (hi, lo) edge list with the same
    connected components."""
    # large-star: each node u connects its strictly-larger neighbors to
    # min(neighborhood ∪ {u}) — long chains halve toward the minimum
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    # NO distinct here (r13, guide §2.4): min is duplicate-insensitive,
    # so duplicate (hi, lo) rows cannot change the small-star min below,
    # and every downstream consumer dedups at the round's final
    # distinct — the intermediate distinct was a full exchange of the
    # rewritten edge list per round for nothing (measured at sf0.1:
    # CC tail 1.36s → 1.06s, labels identical).  The hot-degree counts
    # may inflate with duplicates, which only shifts keys between the
    # broadcast and window paths of _min_join — both compute the same
    # relation.
    large = (
        _min_join(sym, "u", "v", True, hot_degree_threshold)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .where(F.col("hi") != F.col("lo"))
    )
    # small-star: each node connects its smaller neighbors (and itself)
    # to the minimum of that set — flattens local trees into stars
    with_min = _min_join(large, "hi", "lo", False, hot_degree_threshold)
    leaves = with_min.select(F.col("lo").alias("node"), "m").where(
        F.col("node") != F.col("m")
    )
    # one row per hi suffices for centers; duplicates fold in the final
    # distinct, so no extra exchange here
    centers = with_min.select(F.col("hi").alias("node"), "m")
    return (
        leaves.union(centers)
        .select(F.col("node").alias("hi"), F.col("m").alias("lo"))
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


# Observability: rounds used by the most recent connected_components
# call on this driver (the algorithm is deterministic per input, so a
# run-to-run wall-time swing with a CONSTANT round count is environmental,
# not algorithmic — recorded per VERDICT r06 #6).  Set by every call,
# including one that raises on round exhaustion.
LAST_CC_ROUNDS: int | None = None


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    # a 4096-node path (diameter 4095) converges in 14 rounds (measured,
    # tests/test_operators.py::test_star_cc_chain_beats_diameter); 16
    # covers ~2^14-diameter chains and costs nothing when convergence is
    # earlier (the loop breaks on the edge-set signature)
    max_iterations: int = 16,
    # degree above which a node's per-round min step resolves via
    # broadcast instead of the window exchange (see _min_join).  ADAPTIVE:
    # one aggregation over the checkpointed input edges (the
    # `graph_degree_histogram` readout reduced to its max) decides
    # whether any node actually crosses the threshold — the guard pays
    # a constant factor per round (the input feeds the hot aggregate,
    # the anti-join, the hot join AND the cold window; with the earlier
    # aggregate+join step, measured at sf0.1: cluster histogram 2.2s
    # plain vs 6.1s always-guarded), so it only runs when a hot family
    # exists.  Caveat (deliberate): star rounds concentrate degree on
    # component minima, so a cold input with one huge-diameter
    # component can grow a hot min mid-run — that residual case stays
    # on the window path, one task for the hot key; the realistic
    # degenerate shape (a template-spam near-dup family, hot from round
    # 0) takes the guarded path from the start.  None skips the
    # profiling entirely.
    hot_degree_threshold: int | None = None,
) -> DataFrame:
    """Label every node in the near-dup pair graph with its component's
    minimum id — the clustering step that turns pairwise matches into
    dedup groups (keep min id, drop the rest).

    Algorithm: alternating large-star/small-star edge rewriting (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14),
    O(log n) rounds even on long chains.  Each round rewires edges toward
    component minima: large-star points every larger neighbor at the
    neighborhood minimum (halving chain distances), small-star flattens
    the resulting trees into stars.  The fixed point is a star forest —
    every node points directly at its component's minimum id — so the
    label relation falls straight out of the edge list with no separate
    propagation phase.

    Scale shape per round: two window min steps (one hash exchange plus
    a sort each, see :func:`_min_join`) keyed on node ids, never
    content, and the round's final distinct; the edge list SHRINKS
    monotonically toward one edge per non-root node, so later rounds are
    cheaper than earlier ones.  localCheckpoint per round truncates
    lineage (constant plan size).  Convergence is detected by an edge-set
    signature (count + bit_xor of xxhash64(hi, lo), overflow-free under
    ANSI mode) — one aggregation action, no extra join; a colliding
    signature for *different* consecutive edge sets (probability ~2^-64
    per round on deterministic data) is the only failure mode.  RAISES
    on round exhaustion rather than returning split clusters.

    A self-pair ``(a, a)`` is not an edge: a node whose only pair is a
    self-pair gets no label.  The MinHash pair operators emit
    ``doc_a < doc_b``, so no clustering query feeds one.

    Output: (node, component) — component = min node id in the cluster.
    """
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        # materialize once: the upstream pair pipeline (LSH band join +
        # verification) must not re-execute per round
        .transform(_snapshot)
    )
    if hot_degree_threshold is not None:
        # degree readout on the CHECKPOINTED edges (the upstream pair
        # pipeline never re-executes) — one cheap aggregation deciding
        # whether the guarded rounds are worth their constant
        max_deg = (
            edges.select(F.col("hi").alias("n"))
            .union(edges.select(F.col("lo").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
            .agg(F.max("d"))
            .first()[0]
            or 0
        )
        if max_deg <= hot_degree_threshold:
            hot_degree_threshold = None
    global LAST_CC_ROUNDS
    prev_sig = None
    for rounds_used in range(1, max_iterations + 1):
        LAST_CC_ROUNDS = rounds_used
        # LAZY checkpoint: the signature probe below is the single
        # full-pass consumer — materialization and convergence check
        # share one job per round (initial snapshot stays eager: it
        # fans out into the round's two union branches, where
        # unpersisted blocks race).
        edges = _star_round(edges, hot_degree_threshold).transform(_snapshot_lazy)
        row = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — pathological for O(log n) convergence; raise "
            "max_iterations"
        )
    return (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
        .union(edges.select(F.col("lo").alias("node"), F.col("lo").alias("component")))
        .distinct()
    )


def minhash_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    containment_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate detection: pairs where the SMALLER
    shingle set is mostly contained in the larger (containment =
    |A∩B| / min(|A|, |B|)) — catches quotes, excerpts, and
    superset/subset documents that symmetric Jaccard misses (a short
    doc fully quoted inside a long one has low Jaccard but containment
    1.0).  Same banded-LSH candidate generation and shuffle profile as
    :func:`minhash_near_dup_pairs`; only the verification metric
    differs.
    """
    sh = cache.tracked_persist(_minhash_grouped(df, text_col, id_col, n_hashes, k))
    banded = _banded(sh, n_hashes, bands)
    if max_bucket_size is not None:
        banded = cap_buckets(banded, max_bucket_size)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bh"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sets = sh.select("doc", "sset")
    return (
        cand.join(sets.withColumnsRenamed({"doc": "doc_a", "sset": "set_a"}), on="doc_a")
        .join(sets.withColumnsRenamed({"doc": "doc_b", "sset": "set_b"}), on="doc_b")
        .withColumn("n_inter", F.expr("size(array_intersect(set_a, set_b))"))
        .withColumn(
            "containment",
            F.expr("CAST(n_inter AS DOUBLE) / least(size(set_a), size(set_b))"),
        )
        .where(F.col("containment") >= containment_threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def minhash_calibration_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Per-candidate MinHash calibration: signature-estimated Jaccard
    next to the exact shingle-set Jaccard for every LSH candidate pair
    (NO threshold filter — sub-threshold candidates are the interesting
    ones when tuning bands/rows against a corpus).

    The estimate is the classic matching-components fraction
    ``n_match / n_hashes``; comparing it against the exact value over
    the live candidate set is how a deployment picks N_HASHES/BANDS
    before committing a 100 TB dedup run to them.

    Same shuffle profile as :func:`minhash_near_dup_pairs` (band
    triples; signature relation persisted once, reused by the explode
    and both verification sides); the signature arrays that ride along
    the verification join are n_hashes × 8-char strings per doc —
    constant width, never document bodies.
    """
    sh = cache.tracked_persist(_minhash_grouped(df, text_col, id_col, n_hashes, k))
    banded = _banded(sh, n_hashes, bands)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bh"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sig = F.array(*[F.col(f"h{h}") for h in range(n_hashes)])
    sides = sh.select("doc", sig.alias("sig"), "sset")
    n_match = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        "0, (acc, e) -> acc + e)"
    )
    return (
        cand.join(
            sides.withColumnsRenamed({"doc": "doc_a", "sig": "sig_a", "sset": "set_a"}),
            on="doc_a",
        )
        .join(
            sides.withColumnsRenamed({"doc": "doc_b", "sig": "sig_b", "sset": "set_b"}),
            on="doc_b",
        )
        .withColumn("n_match", F.expr(n_match))
        .withColumn("n_inter", F.expr("size(array_intersect(set_a, set_b))"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_match").cast("int").alias("n_match"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.size("set_a").cast("long").alias("na"),
            F.size("set_b").cast("long").alias("nb"),
            F.round(F.col("n_match").cast("double") / n_hashes, 6).alias("jaccard_est"),
            F.round(
                F.expr("CAST(n_inter AS DOUBLE) / (size(set_a) + size(set_b) - n_inter)"),
                6,
            ).alias("jaccard_exact"),
        )
    )


def prefix_filter_similarity_pairs(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 3,
    threshold_den: int = 5,
    prefix_cap: int = 1000,
    shingle_k: int = 3,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin-style
    candidate generation; see queries/dedup.py::dedup_prefix_filter_pairs
    for the theory and the oracle).  Returns (doc_a, doc_b, n_inter,
    jaccard_ppm) for every pair with shingle-set Jaccard >=
    threshold_num/threshold_den.

    Scale guards (both mirrored in the registered oracle):

    * length filter INSIDE the candidate equi-join — a pair with
      ``den*least(na,nb) < num*greatest(na,nb)`` can never reach the
      threshold (J <= min/max), so it never reaches the distinct or the
      verify join.  Sound: zero false negatives.
    * ``prefix_cap`` — prefix tokens shared by more than this many docs
      (only possible inside a >cap boilerplate family) are excluded from
      candidate generation; the one documented approximation, and the
      ssjoin analog of the LSH ``max_bucket_size`` guard.  Set
      ``prefix_cap=None`` for the fully-exact join.

    Reference parity: candidate pruning plays the role of the
    reference's anti-hotspot guards (src/MOFServer hot-partition logic);
    the verify join is the exact-intersection counterpart of its digest
    verification pass.
    """
    num, den = threshold_num, threshold_den
    if shingle_rows is not None:
        # caller-shared distinct (doc, s) relation — same tokenizer/k
        # contract as _minhash_grouped's shingle_rows; persist stays the
        # caller's responsibility
        tk = shingle_rows.select(
            F.col("doc").alias("doc_id"), F.col("s").alias("tok")
        )
    else:
        # Measured r14: swapping this build for an Arrow shingle kernel was a
        # WASH-to-slight-loss (interleaved min-of-5 at sf0.1: relational
        # 4.32s vs kernel 4.59s full-query; bare tk 0.50 vs 0.71) — at
        # k=3 the explode+HOF is one cheap pass here and the kernel pays
        # the JVM→Python→JVM row transfer without removing any exchange
        # (unlike _minhash_grouped, where the kernel also absorbs the md5
        # projection and the signature aggregate).  Kept relational.
        sh = portable.shingles(portable.tokens(text_col, "spark"), shingle_k, "spark")
        # spread the interpreted shingle HOF over all cores — the local
        # corpus scan is 1-3 splits (same discipline as _minhash_grouped).
        # (explode(array_distinct(...)) already emits unique (doc, tok)
        # rows; the historical .distinct() here was a redundant exchange,
        # kept out of both paths.)
        tk = cache.tracked_persist(
            PART.ensure_min_partitions(corpus).select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.array_distinct(F.expr(sh))).alias("tok"),
            )
        )
    dfreq = tk.groupBy("tok").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        tk.join(dfreq, on="tok")
        .withColumn("rn", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    keep = F.col("rn") <= F.col("n") - F.expr(
        f"({num} * n + {den} - 1) div {den}"
    ) + 1
    if prefix_cap is not None:
        keep = keep & (F.col("df") <= prefix_cap)
    pfx = ranked.where(keep).select("doc_id", "tok", "n", "rn")
    # Candidate join with three sound prunes (zero false negatives each):
    #  * length filter — J <= min/max, so den*least < num*greatest pairs
    #    can never qualify;
    #  * positional filter (PPJoin) — a qualifying pair needs overlap
    #    I with I*(num+den) >= num*(na+nb); the globally-smallest shared
    #    token w* lies in BOTH prefixes (fewer than the required overlap
    #    would remain after a deeper position), every shared token sits
    #    at rank >= rn(w*) on both sides, so I <= 1 + min(na-rn_a,
    #    nb-rn_b) at w*'s row — any pair whose every shared-prefix row
    #    fails that bound is impossible.  Measured at sf0.1: 266k -> 93k
    #    candidates before verification.
    cand = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            F.expr(
                "a.tok = b.tok AND a.doc_id < b.doc_id"
                f" AND {den} * least(a.n, b.n) >= {num} * greatest(a.n, b.n)"
                f" AND ({num} + {den}) * (1 + least(a.n - a.rn, b.n - b.rn))"
                f" >= {num} * (a.n + b.n)"
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify by array intersection against the per-doc shingle SETS: the
    # candidate relation is tiny after pruning (length filter + posting
    # cap), so joining it against the set relation lets AQE broadcast the
    # candidates and the full shingle relation never re-shuffles — ~25%
    # faster than re-joining the exploded tk relation twice and grouping
    # (measured at sf0.1), with the identical exact intersection count.
    sets = tk.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("sset"),
        F.count("*").cast("long").alias("n"),
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sset").alias("set_a"),
                F.col("n").alias("na"),
            ),
            on="doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sset").alias("set_b"),
                F.col("n").alias("nb"),
            ),
            on="doc_b",
        )
        .withColumn(
            "n_inter",
            F.expr("CAST(size(array_intersect(set_a, set_b)) AS BIGINT)"),
        )
        .where(
            F.col("n_inter") * den >= num * (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.expr("CAST(n_inter * 1000000 div (na + nb - n_inter) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )
