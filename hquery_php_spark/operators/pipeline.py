"""The extraction pipeline: documents table → ordered span sequences.

Spark-first design (BASELINE.json north rule):

* the *whole-corpus* plan is declarative DataFrame ops — scan, column
  pruning, size-bucket salted repartition, write — so Catalyst/AQE handle
  pushdown, pruning and runtime re-planning;
* the *per-document* computation (tokenize → index → select → emit spans)
  is a single Arrow-batched ``mapInPandas`` stage — one Python↔JVM round
  trip per batch, no per-row Python at the boundary;
* skew from mega-documents is handled explicitly: ``split_tail_
  repartition`` gives every document above a size threshold its own
  partition and hash-salts the body — at 10^12 docs a handful of 20MB
  outliers per 100KB-average batch otherwise serializes the stage;
* per-doc metrics (tag count, span counts, error) ride along as columns,
  and an optional ``meter`` accumulator totals them per partition inside
  the same task (``sources.ingest``'s metrics sidecar, no second pass);
  ``resume_filter`` drops the ids of a committed ledger (the curate and
  pack jobs' idempotent resume).
"""

from __future__ import annotations

import time
from typing import Dict, Optional, Tuple

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.doc import HDoc
from ..batch import map_rows
from ..core.extract import DEFAULT_OPTIONS, ExtractOptions, extract_spans

__all__ = [
    "SPAN_STRUCT",
    "SPANS_SCHEMA",
    "extract_spans_df",
    "explode_spans",
    "salted_repartition",
    "split_tail_repartition",
    "resume_filter",
    "pack_interleaved",
    "pack_interleaved_oracle_sql",
]

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("n_tags", IntegerType()),
        StructField("n_text", IntegerType()),
        StructField("n_media", IntegerType()),
        StructField("size_bytes", LongType()),
        StructField("charset", StringType()),
        StructField("error", StringType()),
        StructField("elapsed_us", LongType()),
    ]
)


def extract_spans_df(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    html_col: str = "html",
    base_url_col: Optional[str] = "base_url",
    encoding: str = "utf-8",
    opts: ExtractOptions = DEFAULT_OPTIONS,
    headers_col: Optional[str] = None,
    meter=None,
) -> DataFrame:
    """documents(doc_id, html[, base_url]) → (doc_id, spans, …metrics).

    The projection keeps only the needed columns (column pruning reaches
    the scan); ``map_rows`` runs the engine per document — the parse
    itself is inherently per-document, but all batch transfer is Arrow
    and all scanning inside uses C-speed byte primitives.

    ``headers_col``: optional per-row HTTP response headers (string, e.g.
    "Content-Type: text/html; charset=ISO-8859-2") fed to the engine's
    charset detection — the crawl-archive (WARC) envelope handoff,
    mirroring the reference's HTTP-client → hQuery path
    (hQuery.php:190-205).

    ``meter``: optional ``PartitionMeter`` accumulator (internal;
    ``sources.ingest`` makes it) to which every document adds its
    share of its partition's totals, returned with the task's result
    instead of by a second pass over the output."""
    cols = [F.col(doc_id_col).cast("string").alias("doc_id"), F.col(html_col).alias("__html")]
    has_url = base_url_col is not None and base_url_col in df.columns
    if has_url:
        cols.append(F.col(base_url_col).alias("__url"))
    if headers_col is not None:
        cols.append(F.col(headers_col).alias("__headers"))

    def row(doc_id, raw, *rest):
        url = rest[0] if has_url else None
        hdrs = rest[-1] if headers_col is not None else None
        t0 = time.perf_counter_ns()
        err = None
        spans = []
        n_tags = 0
        charset = None
        size = 0
        try:
            if raw is None:
                raise ValueError("null html payload")
            data = raw if isinstance(raw, (bytes, bytearray)) else str(raw).encode(encoding)
            size = len(data)
            doc = HDoc(data, url, headers=hdrs)
            charset = doc.charset
            n_tags = len(doc)
            spans = extract_spans(doc, opts)
            if doc.html_errors:
                err = ";".join(f"{k}:{v}" for k, v in doc.html_errors.items())
        except Exception as ex:  # fault tolerance: record, never abort
            err = f"{type(ex).__name__}: {ex}"
        el = (time.perf_counter_ns() - t0) // 1000
        n_text = 0
        tuples = []
        for s in spans:
            if s.kind == "text":
                n_text += 1
            tuples.append((s.kind, s.text, s.media_ref, s.offset))
        if meter is not None:
            tc = TaskContext.get()
            meter.add({(tc.partitionId(), tc.taskAttemptId()): [
                1, n_tags, n_text, len(spans) - n_text, size,
                int(err is not None), el, doc_id, doc_id,
            ]})  # PartitionMeter.COLS order
        return [(doc_id, tuples, n_tags, n_text, len(spans) - n_text, size, charset, err, el)]

    return map_rows(df.select(*cols), SPANS_SCHEMA, row)


class PartitionMeter(AccumulatorParam):
    """Accumulator of per-task extraction totals, ``{(partition id, task
    attempt id): [values in COLS order]}``: the sums, then the min and
    max doc_id.  These are the columns (and meanings) of a
    ``groupBy(spark_partition_id())`` over the spans.  The task attempt
    id is unique across task and stage attempts, so a re-run task
    reports under its own key instead of adding into another attempt's
    totals."""

    COLS = ("n_docs", "n_tags", "n_text", "n_media", "bytes", "n_errors",
            "elapsed_us", "min_doc_id", "max_doc_id")
    N_SUMS = 7

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for key, m in more.items():
            t = acc.get(key)
            if t is None:
                acc[key] = list(m)
                continue
            for i in range(self.N_SUMS):
                t[i] += m[i]
            lo, hi = m[-2], m[-1]
            if lo is not None and (t[-2] is None or lo < t[-2]):
                t[-2] = lo
            if hi is not None and (t[-1] is None or hi > t[-1]):
                t[-1] = hi
        return acc

    @staticmethod
    def partitions(reports: Dict[Tuple[int, int], list]) -> Dict[int, list]:
        """One report per partition id, from its earliest task attempt:
        a partition whose task ran twice (a retried shuffle-map task) is
        counted once."""
        out: Dict[int, list] = {}
        for (pid, _attempt), m in sorted(reports.items()):
            out.setdefault(pid, m)
        return out


def explode_spans(spans_df: DataFrame) -> DataFrame:
    """Nested spans → one row per span with its in-document ordinal."""
    return spans_df.select(
        "doc_id",
        F.posexplode("spans").alias("ord", "span"),
    ).select(
        "doc_id",
        "ord",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "doc_id",
    size_col: Optional[str] = None,
) -> DataFrame:
    """Salted repartition — the scalable default (one shuffle, no sort).

    Hash of the doc key spreads rows uniformly; when ``size_col`` is
    given, the log2 size bucket joins the shuffle key so that each size
    class (including the mega-doc tail) is spread independently across
    all partitions — the north rule's "salted repartitioning on doc size
    buckets"."""
    salt = F.xxhash64(F.col(key_col))
    if size_col is not None:
        bucket = F.ceil(F.log2(F.col(size_col).cast("double") + F.lit(1.0)))
        return df.repartition(num_partitions, bucket, salt)
    return df.repartition(num_partitions, salt)


def split_tail_repartition(
    df: DataFrame,
    num_partitions: int,
    size_col: str = "size_bytes",
    tail_bytes: int = 4 << 20,
    key_col: str = "doc_id",
) -> DataFrame:
    """Isolate the mega-document tail: docs above ``tail_bytes`` go to
    single-doc round-robin partitions; the body is hash-salted as usual.

    This is the scale-correct skew strategy when the tail is extreme
    (a 20MB doc among 100KB batches): no global sort, no
    birthday-collision risk (unlike a pure hash salt) — each tail doc
    occupies its own partition, so the
    stage's critical path is max(one mega doc, one body partition).
    The union keeps both sides' partitioning (no extra shuffle on top).

    The TAIL side leads the union: Spark launches a stage's tasks in
    partition-index order, so the longest tasks must hold the LOWEST
    indices (longest-processing-time-first) or the megas start only
    after the body drains and the stage wall degrades from
    max(tail, body) to body + tail — measured 5.7-6.3 s vs ~3.5 s on
    the BENCH mega_skew row (8 x ~3 s megas + 1.3 s body at
    local[32])."""
    big = df.where(F.col(size_col) >= tail_bytes)
    # a null size (null payload) joins the body: dropped by both filters,
    # the document would vanish instead of reaching the engine's error row
    small = df.where(F.col(size_col).isNull() | (F.col(size_col) < tail_bytes))
    body = salted_repartition(small, num_partitions, key_col=key_col)
    # round-robin gives each tail doc its own partition deterministically
    tail = big.repartition(num_partitions)
    return tail.unionByName(body)


def resume_filter(
    df: DataFrame, done_df: DataFrame, doc_id_col: str = "doc_id"
) -> DataFrame:
    """Idempotent resume: drop documents already present in the committed
    output (left-anti join; Catalyst broadcasts when the done-side is
    small, AQE converts to broadcast at runtime otherwise)."""
    done = done_df.select(F.col(doc_id_col).alias("__done_id")).distinct()
    return df.join(done, df[doc_id_col] == F.col("__done_id"), "left_anti")


def resolve_media_refs(
    spans: DataFrame,
    media_meta: DataFrame,
    key_expr,
    meta_key: str = "media_id",
    broadcast_meta: bool = False,
) -> DataFrame:
    """Interleaved-document assembly: attach media metadata to each media
    span by joining the span's extracted ref key against the media table,
    preserving the (doc_id, ord) span sequence — text spans pass through
    with NULL media columns.

    ``key_expr`` is a Column deriving the media key from ``media_ref``
    (e.g. a regexp_extract of the URL).  Scale shape: the media table is
    CORPUS-PROPORTIONAL (≈ one row per distinct media asset), so the
    default is a plain shuffle join — AQE converts it to broadcast at
    runtime whenever the metadata side is actually small.  Pass
    ``broadcast_meta=True`` only when the media table is known-bounded
    (a fixed asset catalog)."""
    keyed = spans.withColumn("__mkey", key_expr)
    meta = media_meta.withColumnRenamed(meta_key, "__mkey")
    if broadcast_meta:
        meta = F.broadcast(meta)
    return keyed.join(meta, "__mkey", "left").drop("__mkey")


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Assign documents to ≤max_tokens training sequences (sequence
    packing): shard by the portable row hash, order deterministically
    within the shard, and cut packs at running-token-count boundaries —
    pack_no = floor((cumsum − n_tokens) / max_tokens).

    Contiguous offset packing: a pack may overflow by less than one
    document's tokens (the standard streaming-packer tradeoff), in
    exchange for ONE shuffle (the shard hash) and per-shard window sums
    instead of a global sort — the shape that survives 10^12 docs.
    Deterministic: same shards, same order, same packs on every engine
    and cluster size."""
    from ..functions.text import portable_row_hash

    shard = F.pmod(portable_row_hash(F.col(id_col)), F.lit(n_shards))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("shard", shard).withColumn(
        "pack_no",
        F.floor(
            (F.sum(token_col).over(w) - F.col(token_col)) / F.lit(max_tokens)
        ),
    )
    return out.select(id_col, token_col, "shard", "pack_no")


def pack_sequences_oracle_sql(
    max_tokens: int,
    tokens_expr: str,
    n_shards: int = 64,
    table: str = "documents",
) -> str:
    """ANSI-SQL twin of ``pack_sequences`` over a token-count expression."""
    from ..functions.text import portable_row_hash_sql

    h = portable_row_hash_sql("doc_id")
    return f"""
WITH t AS (
  SELECT doc_id, {tokens_expr} AS n_tokens, ({h}) % {n_shards} AS shard
  FROM {table}
)
SELECT doc_id, n_tokens, shard,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                   / {max_tokens}) AS BIGINT) AS pack_no
FROM t
"""


def pack_interleaved(
    spans_df: DataFrame,
    max_tokens: int,
    media_token_cost: int = 64,
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Multimodal sequence packing over the north-rule interleaved table
    shape (doc_id, spans: array<struct<kind,text,media_ref,offset>>).

    A vision-language training batch charges every media span a FIXED
    token budget (the projector emits ``media_token_cost`` tokens per
    image regardless of pixels — the Flamingo/LLaVA recipe), so a doc's
    packing cost is::

        cost = token_count(reassembled text) + media_token_cost · n_media

    computed with the same zero-shuffle array expressions as
    ``interleaved_doc_stats`` — no explode.  Docs whose single-doc cost
    exceeds ``max_tokens`` cannot fit any sequence; they get
    ``pack_no = -1`` (the chunker's input queue) instead of silently
    overflowing a pack.  Fitting docs run ``pack_sequences``'s exact
    recurrence — shard by the portable id hash, deterministic order,
    pack cuts at running-cost boundaries — one shuffle, per-shard
    windows, engine-portable."""
    from ..functions.text import portable_row_hash, token_count

    sp = F.col("spans")
    texts = F.filter(sp, lambda s: s["kind"] == "text")
    main_text = F.concat_ws(" ", F.transform(texts, lambda s: s["text"]))
    n_media = F.size(F.filter(sp, lambda s: s["kind"] == "media"))
    cost = (token_count(main_text) + F.lit(media_token_cost) * n_media).cast(
        "long"
    )
    d = spans_df.select(
        F.col(id_col).alias("id"), cost.alias("cost")
    ).withColumn(
        "shard", F.pmod(portable_row_hash(F.col("id")), F.lit(n_shards))
    )
    # ONE pass for both branches: every row rides the shard window, but
    # only fitting costs enter the cumsum (oversize rows contribute 0
    # and take pack_no = -1) — no union, no second scan of the (at
    # 10^12 docs, expensive) spans subtree
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fit_cost = F.when(F.col("cost") <= max_tokens, F.col("cost")).otherwise(
        F.lit(0).cast("long")
    )
    pack_no = F.when(F.col("cost") > max_tokens, F.lit(-1).cast("long")).otherwise(
        F.floor((F.sum(fit_cost).over(w) - F.col("cost")) / F.lit(max_tokens))
    )
    return d.withColumn("pack_no", pack_no).select(
        F.col("id").alias(id_col), "cost", "shard", "pack_no"
    )


def pack_interleaved_oracle_sql(
    spans_sql: str,
    max_tokens: int,
    media_token_cost: int = 64,
    n_shards: int = 64,
) -> str:
    """ANSI-SQL twin of ``pack_interleaved``; ``spans_sql`` yields the
    EXPLODED span rows (doc_id VARCHAR, ord, kind, text, media_ref).

    Contract edge: a document whose ``spans`` ARRAY is empty packs at
    cost 0 on the Spark side but is invisible to this twin (it has no
    exploded row to aggregate) — the driver corpus guarantees ≥1 span
    per doc; callers with genuinely empty docs should drop them
    upstream (they carry nothing to train on either way)."""
    from ..functions.text import SQL as TSQL
    from ..functions.text import portable_row_hash_sql

    h = portable_row_hash_sql("doc_id")
    tc = TSQL.token_count("main_text")
    return f"""
WITH s AS ({spans_sql}),
agg AS (
  SELECT doc_id,
         coalesce(string_agg(text, ' ' ORDER BY ord)
                  FILTER (WHERE kind = 'text'), '') AS main_text,
         count(*) FILTER (WHERE kind = 'media') AS n_media
  FROM s GROUP BY doc_id
),
c AS (
  SELECT doc_id,
         CAST(({tc}) + {media_token_cost} * n_media AS BIGINT) AS cost,
         CAST(({h}) % {n_shards} AS BIGINT) AS shard
  FROM agg
)
SELECT doc_id, cost, shard,
       CASE WHEN cost > {max_tokens} THEN CAST(-1 AS BIGINT)
            ELSE CAST(floor(
              (sum(CASE WHEN cost <= {max_tokens} THEN cost ELSE 0 END)
                 OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - cost)
              / {max_tokens}) AS BIGINT) END AS pack_no
FROM c
"""


def interleaved_doc_stats(spans_df: DataFrame) -> DataFrame:
    """Consume the north-rule interleaved table SHAPE directly —
    (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>) —
    with pure JVM array expressions: per-doc main text reassembly, span
    counts, media-ref join, character accounting, and offset bounds in
    ONE pass per row.  No explode, no shuffle: at 10^12 docs this runs
    entirely inside the scan's whole-stage pipeline."""
    sp = F.col("spans")
    texts = F.filter(sp, lambda s: s["kind"] == "text")
    medias = F.filter(sp, lambda s: s["kind"] == "media")
    return spans_df.select(
        "doc_id",
        F.concat_ws(" ", F.transform(texts, lambda s: s["text"])).alias("main_text"),
        F.size(texts).alias("n_text_spans"),
        F.size(medias).alias("n_media_spans"),
        F.concat_ws("|", F.transform(medias, lambda s: s["media_ref"])).alias(
            "media_refs"
        ),
        F.aggregate(
            sp, F.lit(0).cast("long"), lambda acc, s: acc + F.length(s["text"])
        ).alias("span_chars"),
        F.array_max(F.transform(sp, lambda s: s["offset"])).alias("max_offset"),
    )


def global_order_index(
    df: DataFrame,
    key_col: str = "doc_id",
    n_ranges: int = 64,
    mod: int = 1_000_000_007,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """Deterministic global training order: every row gets a dense
    0-based position equal to its rank under (portable_hash(key), key) —
    the corpus-wide "shuffle" a training run needs, reproducible on any
    engine or cluster size (df.orderBy alone gives an order but no
    addressable position; a global row_number() window collapses to ONE
    partition and dies at scale).

    Scale shape: the hash is uniform on [0, mod), so ``bucket =
    floor(h·n_ranges/mod)`` is an explicit, deterministic range
    partitioning (no sampling pass like repartitionByRange, whose
    boundaries can shift between jobs).  Per-bucket counts (<= n_ranges
    rows) come back to the driver once to form cumulative offsets; the
    final position is offset[bucket] + intra-bucket rank from a window
    partitioned BY bucket — every window partition holds ~rows/n_ranges
    rows no matter the total.  Two scans of the input (count + rank); at
    10^12 rows pick n_ranges ~ total/2^21 so each bucket stays a few
    hundred MB.

    Output: input columns + ``pos`` (long).  Oracle: row_number() OVER
    (ORDER BY hash, key) - 1.

    ``persist_registry`` (a list): when given, the hashed/bucketed input
    is persisted so the bucket-count scan and the final rank scan share
    ONE computation of the (possibly expensive) upstream plan — the
    caller unpersists every frame in the list after materializing the
    output.  Without it the input plan runs twice.
    """
    from ..functions.text import portable_row_hash

    h = portable_row_hash(F.col(key_col), mod=mod)
    d = df.withColumn("__h", h).withColumn(
        "__bkt", F.floor(F.col("__h") * n_ranges / F.lit(mod)).cast("int")
    )
    if persist_registry is not None:
        d = d.persist()
        persist_registry.append(d)
    sizes = {
        r["__bkt"]: r["n"]
        for r in d.groupBy("__bkt").agg(F.count("*").alias("n")).collect()
    }
    running, offsets = 0, {}
    for b in sorted(sizes):
        offsets[b] = running
        running += sizes[b]
    # offsets ride as a broadcast (bucket, offset) dim — ≤ n_ranges rows,
    # parameter-sized, a legitimate forced broadcast.  A chained CASE
    # WHEN per bucket (the previous mechanism) dies in Catalyst
    # analysis at the ~476k buckets the docstring prescribes for 10^12
    # rows; an expression-tree lookup cannot reach that scale.
    spark = d.sparkSession
    off_df = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()] or [(0, 0)],
        "__bkt int, __off long",
    )
    w = Window.partitionBy("__bkt").orderBy("__h", key_col)
    return (
        d.join(F.broadcast(off_df), "__bkt", "left")
        .withColumn(
            "pos",
            (
                F.coalesce(F.col("__off"), F.lit(0))
                + F.row_number().over(w)
                - F.lit(1)
            ).cast("long"),
        )
        .drop("__h", "__bkt", "__off")
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 8,
):
    """Context-window chunking: split each document into token windows
    of ``max_tokens`` with ``overlap`` tokens of left context — the
    standard long-document preparation for a fixed-context model.

    Chunk i covers tokens [i·(max−ov), i·(max−ov)+max); the last chunk
    is the first one whose window reaches the end (shorter, never
    empty).  Entirely expression-level: tokens materialize ONCE behind
    a projection (the HOF-inlining rule), chunks come from a
    ``sequence``+``transform`` over slice bounds and explode — no
    Python, no shuffle; the output is (id, chunk_id, start_tok, n_tok,
    chunk_text) with chunk_text rebuilt by concat of the token slice,
    so the whole operator has an exact SQL twin."""
    from pyspark.sql import functions as F

    from ..functions.text import norm_ws

    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_tokens")
    toked = df.select(
        F.col(id_col).alias("id"),
        F.split(norm_ws(F.col(text_col)), " ").alias("__t"),
    ).where(F.length(F.concat_ws("", F.col("__t"))) > 0)
    t = F.col("__t")
    n = F.size(t)
    # number of chunks: 1 + ceil(max(n - max_tokens, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(max_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * stride).alias("start_tok"),
            F.least(n - i * stride, F.lit(max_tokens)).alias("n_tok"),
            F.concat_ws(
                " ", F.slice(t, i * stride + 1, max_tokens)
            ).alias("chunk_text"),
        ),
    )
    ex = toked.select("id", F.explode(chunks).alias("c"))
    return ex.select(
        "id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.n_tok").alias("n_tok"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def chunk_documents_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 8,
) -> str:
    """DuckDB twin of ``chunk_documents`` — identical windows, bounds,
    and rebuilt chunk text."""
    from ..functions.text import SQL as TSQL

    stride = max_tokens - overlap
    norm = TSQL.norm_ws(text_col)
    return f"""
WITH toked AS (
  SELECT {id_col} AS id, string_split({norm}, ' ') AS t
  FROM {table} WHERE length({norm}) > 0
),
nc AS (
  SELECT id, t, len(t) AS n,
         1 + CAST(ceil(greatest(len(t) - {max_tokens}, 0)
                       / {stride}.0) AS INT) AS n_chunks
  FROM toked
),
ex AS (
  SELECT id, t, n, unnest(range(0, n_chunks)) AS chunk_id FROM nc
)
SELECT id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(chunk_id * {stride} AS INT) AS start_tok,
       CAST(least(n - chunk_id * {stride}, {max_tokens}) AS INT) AS n_tok,
       array_to_string(t[chunk_id * {stride} + 1 :
                         chunk_id * {stride} + {max_tokens}], ' ')
         AS chunk_text
FROM ex
"""
