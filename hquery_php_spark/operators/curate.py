"""End-to-end corpus curation: the composed training-data prep path.

One operator chains the pipeline a pretraining corpus actually runs —
quality gates → exact dedup → MinHash near-dup clustering → benchmark
decontamination → PII redaction → per-domain cap → deterministic global
order — entirely from the already-value-checked building blocks, in ONE
lazy DataFrame program (Catalyst sees the whole plan; only the near-dup
clustering leg materializes intermediates, because connected components
is iterative).

Scale shape per stage (each verified individually in PLANS.md):
* quality gates — pure JVM expression tree, zero shuffles;
* exact dedup — one window shuffle keyed by the 16-byte fingerprint;
* near-dup — hash-once signatures, banded-LSH self-join (shuffle ∝
  candidate density), semi-join-pruned verify (AQE picks broadcast when
  the candidate set is actually small — never forced, since candidates
  and losers are corpus-proportional), O(log n)-round pointer-jumping
  components (reliable ``checkpoint_dir`` supported);
* decontamination — broadcast of the (small) benchmark gram set;
* redaction — JVM regexp expressions, no shuffle;
* domain cap — skew-safe two-phase salted window;
* global order — explicit hash-range buckets, no single-partition window.

The packaged CLI lives in ``jobs/curate_job.py`` (spark-submit
--py-files); resume = anti-join on ids already committed to --output.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint,
    gopher_quality,
    per_domain_cap,
    redact_pii,
    repetition_stats,
    token_count,
)
from .decontaminate import ngram_decontaminate
from .dedup import (
    connected_components,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_verify,
)
from .pipeline import global_order_index

__all__ = ["CurateOptions", "curate_corpus", "quality_gate"]


@dataclass
class CurateOptions:
    id_col: str = "doc_id"
    text_col: str = "text"
    domain_col: Optional[str] = "source"
    # quality gates
    min_words: int = 10
    max_top_bigram_frac: float = 0.30
    gopher_kwargs: dict = field(default_factory=dict)
    # near-dup
    near_dup: bool = True
    num_perm: int = 32
    shingle_k: int = 5
    lsh_bands: int = 8
    rows_per_band: Optional[int] = None
    jaccard_threshold: float = 0.8
    checkpoint_dir: Optional[str] = None
    # decontamination
    decontaminate_n: int = 8
    # per-domain cap (None = no cap)
    cap_per_domain: Optional[int] = None
    # global order
    n_ranges: int = 64
    # explicit partition count for the CPU-heavy hash stages (None =
    # sparkContext.defaultParallelism).  The per-char polynomial folds are
    # expensive per BYTE while their rows are small in bytes — exactly the
    # shape where AQE's size-based coalescing collapses a post-shuffle
    # stage to one partition and single-threads the whole chain.  An
    # explicit numPartitions repartition is never coalesced by AQE.
    parallelism: Optional[int] = None


def _pushdown_barrier() -> F.Column:
    """Value-constant TRUE conjunct that keeps the quality gate in
    ProjectExec.

    Why it exists: FilterExec does no subexpression elimination, so if
    ``PushDownPredicates`` substitutes the gate expressions through the
    Project, the nested higher-order-function token subtrees re-inline
    per lambda element and the gate costs ~70x its Project-side price
    (measured 20.4 s vs 3.0 s at sf0.1/local[32], identical rows).

    Why it is safe to rely on: ``monotonically_increasing_id()`` is
    nondeterministic-flagged, and Catalyst's
    ``PushPredicateThroughNonJoin`` only moves *deterministic*
    predicates — a documented optimizer invariant (pushing a
    nondeterministic predicate would change how many times it
    evaluates), not an undocumented quirk.  Constant folding cannot
    remove the conjunct either: nondeterministic expressions are never
    foldable.  The conjunct is value-constant TRUE (the id is always
    >= 0), so if a future Spark DID push or fold it the results would
    be unchanged — only the 70x perf cliff returns, and
    tests/test_curate_plan.py pins the plan shape so that regression
    fails loudly at test time instead of silently in production."""
    return F.monotonically_increasing_id() >= F.lit(-1)


def quality_gate(
    docs: DataFrame, opts: CurateOptions = CurateOptions(), barrier: bool = True
) -> DataFrame:
    """Stage 1 of the curate chain: Gopher rules + repetition cap as
    ONE projected boolean, filtered through a pushdown barrier (see
    ``_pushdown_barrier``).  Exposed so the plan-shape test drives the
    exact production expression; ``barrier=False`` exists only for that
    test's sensitivity check."""
    o = opts
    g = gopher_quality(F.col(o.text_col), min_words=o.min_words,
                       **o.gopher_kwargs)
    r = repetition_stats(F.col(o.text_col))
    keep = (g["passes"] == 1) & (
        r["top_bigram_frac"] <= o.max_top_bigram_frac
    )
    if barrier:
        keep = keep & _pushdown_barrier()
    return docs.withColumn("__keep", keep).where(F.col("__keep")).drop("__keep")


def curate_corpus(
    docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    opts: CurateOptions = CurateOptions(),
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """documents(id, text[, domain]) → curated corpus in training order.

    Output columns: id, domain (when configured), text (PII-redacted),
    n_tokens, n_email/n_ip/n_phone (redaction counts), pos (dense global
    training position).  Every removal stage keeps the canonical
    (minimum-id) representative, so reruns are deterministic.

    ``persist_registry`` (a list): when given, the two frames every
    downstream stage re-reads — the deduped corpus (consumed by the
    MinHash signature chain, the verify shingle chain, AND the survivor
    anti-join) and the hashed global-order input (consumed by the
    bucket-count scan and the rank scan) — are persisted and appended to
    the list; the caller unpersists them once the output is
    materialized.  Without a registry nothing is cached and the gate +
    dedup subtree recomputes per consumer (correct, but ~3× the work)."""
    return _curate_corpus_impl(docs, benchmark, opts, persist_registry)


def _curate_corpus_impl(
    docs: DataFrame,
    benchmark: Optional[DataFrame],
    opts: CurateOptions,
    persist_registry: Optional[list],
) -> DataFrame:
    o = opts
    idc, txt = o.id_col, o.text_col

    # 1. quality gates: Gopher rules + repetition cap (pure
    #    expressions), evaluated in ProjectExec via the pushdown
    #    barrier — mechanism + rationale in _pushdown_barrier's
    #    docstring; plan shape pinned by tests/test_curate_plan.py.
    d = quality_gate(docs, o)

    # 2. exact dedup: canonical (min-id) copy per fingerprint
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(idc)
    d = (
        d.withColumn("__fp", fingerprint(F.col(txt)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )
    if persist_registry is not None:
        # Explicit-numPartitions repartition BEFORE persisting: the cache
        # inherits the plan's partitioning, so persisting an AQE-coalesced
        # single partition would single-thread every downstream narrow
        # stage (the per-char shingle folds are the most expensive
        # expressions in the engine).  An extra shuffle of the filtered
        # corpus is the price; at 10^12 docs the post-gate corpus is big
        # enough that AQE never coalesces and opts.parallelism can stay
        # None on a config that skips it.
        par = o.parallelism or docs.sparkSession.sparkContext.defaultParallelism
        d = d.repartition(par, idc).persist()
        persist_registry.append(d)

    # 3. MinHash near-dup clusters → keep the cluster-minimum doc.
    #    connected_components labels every node with its smallest member,
    #    so the survivors are exactly the rows whose label == own id.
    if o.near_dup:
        sigs = minhash_signatures(
            d, text_col=txt, id_col=idc, num_perm=o.num_perm,
            shingle_k=o.shingle_k,
        )
        cands = minhash_lsh_candidates(
            sigs, bands=o.lsh_bands, rows_per_band=o.rows_per_band
        )
        if persist_registry is not None:
            # candidate pairs feed the verify join twice (ids_needed
            # prune + the broadcast pair join) — cache the small table
            # rather than re-running the signature/banding chain per use
            cands = cands.persist()
            persist_registry.append(cands)
        pairs = ngram_jaccard_verify(
            d, cands, text_col=txt, id_col=idc, k=o.shingle_k,
            threshold=o.jaccard_threshold,
            persist_shingles=persist_registry is not None,
            persist_registry=persist_registry,
        )
        labels = connected_components(
            pairs.select("id_a", "id_b"), checkpoint_dir=o.checkpoint_dir
        )
        losers = labels.where(F.col("cluster_id") != F.col("id")).select(
            F.col("id").alias(idc)
        )
        # plain (shuffle) anti-join: losers is corpus-proportional (near-
        # dups can be 30-50% of a web corpus), so a forced broadcast OOMs
        # at the 100 TB target; AQE still picks broadcast when the loser
        # set is actually small.
        d = d.join(losers, idc, "left_anti")

    # 4. benchmark decontamination (broadcast gram set)
    if benchmark is not None:
        d = ngram_decontaminate(
            d, benchmark, text_col=txt, id_col=idc,
            n=o.decontaminate_n, mode="clean",
        )

    # 5. PII redaction — text column is REPLACED by the redacted form
    red = redact_pii(F.col(txt))
    d = (
        d.withColumn("__red", red)
        .withColumn(txt, F.col("__red.redacted"))
        .withColumn("n_email", F.col("__red.n_email"))
        .withColumn("n_ip", F.col("__red.n_ip"))
        .withColumn("n_phone", F.col("__red.n_phone"))
        .drop("__red")
    )

    # 6. per-domain cap (skew-safe deterministic rank)
    if o.cap_per_domain is not None and o.domain_col is not None:
        d = per_domain_cap(
            d, cap=o.cap_per_domain, domain_col=o.domain_col, key_col=idc
        ).drop("rk")

    # 7. deterministic global training order
    d = d.withColumn("n_tokens", token_count(F.col(txt)))
    return global_order_index(
        d, key_col=idc, n_ranges=o.n_ranges, persist_registry=persist_registry
    )


def curate_oracle_sql(
    table: str = "documents",
    bench_pred: str = "doc_id % 10 = 0",
    min_words: int = 10,
    gopher_kwargs: Optional[dict] = None,
    max_top_bigram_frac: float = 0.30,
    num_perm: int = 16,
    shingle_k: int = 8,
    bands: int = 2,
    rows_per_band: int = 8,
    threshold: float = 0.6,
    decontaminate_n: int = 8,
    cap_per_domain: Optional[int] = None,
    domain_col: str = "source",
) -> str:
    """ANSI-SQL twin of the WHOLE ``curate_corpus`` chain (with the same
    parameters): quality gates → exact dedup → MinHash/LSH/verify pairs →
    recursive-CTE components (keep cluster min) → benchmark
    decontamination → PII redaction → per-domain cap → global order.
    Every stage reuses the already-pinned single-stage twin, so a value
    mismatch localizes to the composition, not the primitives.

    The stages that later ones read more than once are MATERIALIZED:
    DuckDB otherwise inlines a CTE per reference and re-runs the gates
    and the MinHash chain for each."""
    from ..functions.text import SQL as TSQL, portable_row_hash_sql
    from .dedup import (
        connected_components_oracle_sql,
        minhash_verify_oracle_sql,
    )

    gk = dict(gopher_kwargs or {})
    passes = TSQL.gopher_fields("text", min_words=min_words, **gk)["passes"]
    topbg = TSQL.repetition_fields("text")["top_bigram_frac"]
    fp = TSQL.fingerprint("text")
    mh = minhash_verify_oracle_sql(
        num_perm=num_perm, shingle_k=shingle_k, bands=bands,
        rows_per_band=rows_per_band, threshold=threshold, table="e",
    )
    cc = connected_components_oracle_sql("SELECT id_a, id_b FROM mh_pairs")
    grams = TSQL.word_ngrams("text", decontaminate_n)
    red = TSQL.redact_pii_fields("text")
    prh = portable_row_hash_sql("doc_id")
    dom = domain_col
    cap_sql = (
        f"""(SELECT doc_id, {dom}, text, n_email, n_ip, n_phone FROM (
              SELECT *, row_number() OVER (PARTITION BY {dom}
                        ORDER BY {prh}, doc_id) AS rk FROM red)
            WHERE rk <= {cap_per_domain})"""
        if cap_per_domain is not None
        else "red"
    )
    return f"""
WITH train AS (SELECT doc_id, text, {dom} FROM {table} WHERE NOT ({bench_pred})),
q AS (SELECT * FROM train WHERE ({passes}) = 1 AND ({topbg}) <= {max_top_bigram_frac}),
e AS MATERIALIZED (SELECT doc_id, text, {dom} FROM (
        SELECT *, row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS __rn
        FROM q)
      WHERE __rn = 1),
mh_pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({mh})),
labels AS MATERIALIZED (SELECT * FROM ({cc})),
surv AS (SELECT * FROM e
         WHERE doc_id NOT IN (SELECT id FROM labels WHERE cluster_id <> id)),
bgrams AS (SELECT DISTINCT unnest({grams}) AS gram FROM {table} WHERE {bench_pred}),
flagged AS (SELECT DISTINCT doc_id FROM
              (SELECT doc_id, unnest({grams}) AS gram FROM surv) t
            JOIN bgrams USING (gram)),
dec AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
red AS (SELECT doc_id, {dom},
               {red['redacted']} AS text,
               {red['n_email']} AS n_email,
               {red['n_ip']} AS n_ip,
               {red['n_phone']} AS n_phone
        FROM dec)
SELECT doc_id, {dom}, text, n_email, n_ip, n_phone,
       {TSQL.token_count('text')} AS n_tokens,
       CAST(row_number() OVER (ORDER BY {prh}, doc_id) - 1 AS BIGINT) AS pos
FROM {cap_sql}
"""
