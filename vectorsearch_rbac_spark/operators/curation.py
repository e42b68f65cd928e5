"""Corpus-curation operators for large-scale training-data pipelines
(SURVEY.md §2 E16-E19): stratified sampling, sequence packing, TF-IDF
term extraction, and int8-quantized similarity search.

The first three are pure DataFrame plans (codegen'd, no Python UDFs);
int8 search scores in an Arrow kernel. All have exact DuckDB-oracle
formulations. Determinism follows the SURVEY.md §4 contract:
hashes via ``md5_long``, floats rounded to 6 dp, ties broken by id/term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.vector import md5_long
from .hints import parallelize_scan


def stratified_sample(
    documents: DataFrame,
    cap: int,
    strata: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum cap sample: rank each stratum's docs by a
    uniform hash of their id, keep the first ``cap``.

    This is the corpus-balancing step of a pre-training mix (cap the
    over-represented language/source cells). Hash-rank = a reproducible
    uniform draw — same sample on any cluster layout, and the oracle
    reproduces it exactly.

    Scale: one shuffle on the strata key; the rank window is a per-stratum
    top-``cap``, which Spark evaluates with a partial sort (WindowGroupLimit
    pushes ``rank <= cap`` below the sort at scan time in Spark 3.5+/4.x, so
    a 100 TB stratum never fully sorts — each map task keeps ``cap`` rows).
    """
    w = Window.partitionBy(*strata).orderBy(
        md5_long(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        documents.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= cap)
        .select(id_col, *strata, F.col("sample_rank").cast("long").alias("sample_rank"))
    )


def pack_sequences(
    documents: DataFrame,
    window_tokens: int = 512,
    range_size: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: concatenate docs in id order and
    cut every ``window_tokens`` tokens; report per-pack document count,
    token total, and first doc.

    A doc starting at cumulative offset c belongs to pack floor(c /
    window_tokens) — the standard "pack short documents into fixed context
    windows" step before LLM training.

    Scale: packing is a running sum, which is inherently sequential — so the
    corpus is first split into independent ``(lang, doc_id DIV
    range_size)`` ranges and packed within each. Ranges are deterministic
    (oracle-identical) AND embarrassingly parallel: the window sort touches
    at most ``range_size`` rows per group, never a global sort.
    """
    d = documents.select(
        id_col,
        "lang",
        F.floor(F.col(id_col) / range_size).cast("long").alias("rng"),
        T.token_count(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "rng")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.withColumn(
        "pack_seq",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / window_tokens).cast("long"),
    )
    return (
        packed.groupBy("lang", "rng", "pack_seq")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min(id_col).alias("first_doc"),
        )
    )


def tfidf_top_terms(
    documents: DataFrame,
    top_n: int = 3,
    min_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document: tf = in-doc term count,
    idf = ln((N+1)/(df+1)), score rounded to 6 dp, ties by term asc.

    Stopwords and terms shorter than ``min_len`` are excluded. The corpus
    size N is a 1-row aggregate cross-joined in (broadcast — no collect());
    df is a term-level aggregate joined back on the term key.

    Scale: two shuffles (tf on (doc, term), df on term) + one broadcast;
    the per-doc top-n window rides the tf shuffle's partitioning. Skewed
    head terms only skew df — a count-only agg with map-side combine.
    """
    sw = F.array(*[F.lit(s) for s in T.STOPWORDS])
    # r12: split the serial single-file scan ahead of the tokenize explode
    # (size-gated — see parallelize_scan); N below stays on the raw scan
    toks = parallelize_scan(documents).select(
        id_col, F.explode(T.tokens(text_col)).alias("term")
    ).where((F.length("term") >= min_len) & ~F.array_contains(sw, F.col("term")))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = documents.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n), how="cross")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= top_n)
        .select(id_col, "term", "tfidf", "term_rank")
    )


def remove_boilerplate(
    documents: DataFrame,
    chunk_tokens: int = 2,
    min_docs: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style boilerplate removal at token-chunk granularity: split each
    doc into aligned ``chunk_tokens``-token chunks, drop every chunk whose
    exact text occurs in ≥ ``min_docs`` distinct documents, reassemble the
    survivors in order. Returns (doc_id, cleaned_hash, n_removed, n_chunks).

    The corpus-frequency side (chunk → distinct-doc count) is the C4 "line
    appears in multiple documents" rule; emitting an md5 of the reassembled
    text keeps the compare payload fixed-width.

    Scale: one explode (bounded ×n_chunks), one count-distinct agg on the
    chunk key (map-side partial), the boilerplate set re-joined as a
    broadcast (it's tiny by construction — only chunks crossing the
    min_docs bar), and one groupBy(doc) to reassemble. Order is restored
    with a struct array_sort, not a sort of the whole relation.
    """
    # r12: split the serial single-file scan ahead of the tokenize +
    # chunk explode (size-gated — see parallelize_scan)
    t = parallelize_scan(documents).select(id_col, T.tokens(text_col).alias("toks"))
    n_chunks = (F.ceil(F.size("toks") / F.lit(float(chunk_tokens))) - 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.array_join(F.slice("toks", i * chunk_tokens + 1, chunk_tokens), " "),
    )
    ch = t.select(id_col, F.posexplode(chunks).alias("pos", "chunk"))
    bp = (
        ch.groupBy("chunk")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("chunk", F.lit(True).alias("is_bp"))
    )
    marked = ch.join(F.broadcast(bp), "chunk", "left")
    kept = F.array_sort(
        F.collect_list(F.when(F.col("is_bp").isNull(), F.struct("pos", "chunk")))
    )
    return marked.groupBy(id_col).agg(
        F.md5(F.array_join(F.transform(kept, lambda x: x["chunk"]), " ")).alias("cleaned_hash"),
        F.sum(F.when(F.col("is_bp").isNotNull(), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.count("*").cast("long").alias("n_chunks"),
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: y_j = <x, R_j> for a fixed
    seeded Gaussian matrix R, one output column per target dim (rounded to
    6 dp). The dimensionality-reduction step before cheap ANN prefiltering.

    The matrix rides the plan as literals (broadcast-free, codegen'd); the
    sequential-fold dot product matches DuckDB's list_dot_product order so
    the oracle is exact.
    """
    from ..functions import vector as V
    from .ann import hyperplanes

    dim = len(embeddings.select(vec_col).first()[0])
    R = hyperplanes(dim, out_dim, seed)
    cols = [
        (F.round(V.inner_product(F.col(vec_col), F.array(*[F.lit(float(v)) for v in R[j]])), 6)
         + F.lit(0.0)).alias(f"r{j}")
        for j in range(out_dim)
    ]
    return embeddings.select(id_col, *cols)


def random_projection_oracle_sql(out_dim: int = 8, seed: int = 42, dim: int = 64) -> str:
    """DuckDB oracle for ``random_projection``: the same seeded matrix as
    double literals, one list_dot_product per output dim."""
    from .ann import hyperplanes

    R = hyperplanes(dim, out_dim, seed)
    cols = ",\n  ".join(
        "ROUND(list_dot_product(embedding::DOUBLE[], [" +
        ", ".join(repr(float(v)) for v in R[j]) +
        f"]::DOUBLE[]), 6) + 0.0 AS r{j}"
        for j in range(out_dim)
    )
    return f"SELECT CAST(vec_id AS BIGINT) AS vec_id,\n  {cols}\nFROM embeddings"


def mixture_sample(
    documents: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic corpus-mixture sampling: keep each doc with its
    source's probability, decided by a uniform hash of the doc id — the
    "sample source A at 30%, source B at 100%" reweighting step of a
    pre-training data mixture (Pile/Dolma-style), reproducible across runs
    and cluster layouts.

    Scale: stateless per-row predicate — no shuffle, no sort, fully pushed
    into the scan stage; the weights ride the plan as a literal CASE chain.
    """
    u = md5_long(F.col(id_col).cast("string")) % 1_000_000
    w = F.lit(default_weight)
    for src, frac in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, F.lit(frac)).otherwise(w)
    return documents.where(u < w * 1_000_000)


def quality_quantile_filter(
    documents: DataFrame,
    q: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep each group's top (1-q) quality share: per-``group_col`` exact
    linear-interpolation quantile of the quality score, then filter
    ``quality >= cutoff`` — "keep the best half per language".

    Scale: the cutoffs are a groups-sized aggregate (map-side combinable
    percentile sketch-free exact path is fine: quality is one double per
    row) broadcast back onto the stream; the corpus itself never sorts.
    """
    scored = documents.select(
        id_col, group_col, T.quality_score(text_col).alias("quality")
    )
    # the regex-heavy scoring feeds both the cutoff aggregate and the
    # filtered stream — materialize it once (lazy: first action computes it)
    scored = scored.persist()
    cuts = scored.groupBy(group_col).agg(
        F.round(F.percentile("quality", F.lit(q)), 6).alias("cutoff")
    )
    return (
        scored.join(F.broadcast(cuts), group_col)
        .where(F.col("quality") >= F.col("cutoff"))
        .select(id_col, group_col, "quality", "cutoff")
    )


def contamination_check(
    documents: DataFrame,
    benchmark_docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination audit (GPT-3/PaLM decontamination style):
    for every training doc, count its n-gram shingles that appear anywhere
    in the eval/benchmark set; ``flagged`` marks any overlap. Returns
    (doc_id, n_shingles, n_contaminated, flagged).

    Scale: the benchmark shingle set is dim-sized (eval suites are small) —
    a distinct + broadcast; the corpus side is one shingle explode feeding
    a left join + count aggregate. No corpus self-join anywhere.
    """
    from .dedup import word_shingles

    sh = word_shingles(documents, id_col, text_col, n)
    bench = (
        word_shingles(benchmark_docs, id_col, text_col, n)
        .select("shingle").distinct()
        .select("shingle", F.lit(True).alias("_hit"))
    )
    marked = sh.join(F.broadcast(bench), "shingle", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0)).cast("long").alias("n_contaminated"),
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_contaminated",
        (F.col("n_contaminated") > 0).alias("flagged"),
    )


def int8_quantize(vec, scale: float = 127.0) -> F.Column:
    """Symmetric per-vector int8 quantization: q_i = round(x_i · 127 /
    max|x|) as an array<long> (values in [-127, 127]).

    All arithmetic is forced to double and kept in source order
    ``(x * 127.0) / m`` so the DuckDB oracle computes bit-identical values;
    round() ties go away-from-zero on both engines.
    """
    c = F.col(vec) if isinstance(vec, str) else vec
    d = F.transform(c, lambda x: x.cast("double"))
    m = F.greatest(F.array_max(F.transform(d, lambda x: F.abs(x))), F.lit(1e-30))
    return F.transform(d, lambda x: F.round(x * F.lit(scale) / m, 0).cast("long"))


def int8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized brute-force top-k: both sides int8-quantized, similarity =
    integer dot product, top-k by (-dot, id). The quantized-search scale
    path — int8 arithmetic is exact in both engines (no float-sum ordering
    sensitivity), so this operator has a bit-exact oracle, and at 100 TB the
    scan reads 4× fewer bytes than float32 with SIMD-friendly math.

    Two phases: quantization stays in the expression plan (the exact
    oracle's form); each Arrow batch does ONE int64 matmul (bit-exact —
    |dot| ≤ 127²·d, no float path at all) against the broadcast query
    codes and emits its per-query top-k under the same (-dot, id) order,
    so only ids and the scalar dot reach the rank exchange, where the
    global window re-ranks P·Q·k survivors.
    """
    import numpy as np
    import pandas as pd

    e = embeddings.select(id_col, int8_quantize(vec_col).alias("qe"))
    q = queries.select("query_id", int8_quantize("query_vector").alias("qq"))
    spark = embeddings.sparkSession
    q_rows = q.collect()
    if not q_rows:
        return spark.createDataFrame(
            [], f"query_id long, {id_col} long, dot long, rank long"
        )
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    QM = np.stack([np.asarray(r["qq"], dtype=np.int64) for r in q_rows])
    bc = spark.sparkContext.broadcast((qids, QM))

    def part(batches):
        from .ann import _batch_topk_rows

        qids_, QM_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            dot = X @ QM_.T
            # shared cut on the NEGATED integer dots — same (-dot, id)
            # order the window applies; integer matmul is bit-exact
            sel, kk = _batch_topk_rows(-dot, ids, k)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, kk),
                    "block_id": ids[sel],
                    "dot": dot[sel, np.repeat(np.arange(nq), kk)],
                }
            )

    scored = e.mapInPandas(part, schema="query_id long, block_id long, dot long")
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("block_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("block_id").alias(id_col), "dot", "rank")
    )


def unigram_logppl(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al. 2019,
    arXiv:1911.00359 — their Wikipedia-KenLM perplexity bucket filter):
    per-document mean negative log-probability of its tokens under an
    add-1-smoothed unigram LM trained on the corpus itself.

    p(w) = (tf(w) + 1) / (total_tokens + |V|);
    unigram_logppl(doc) = avg over doc tokens of -ln p(w), rounded 6 dp
    (low = fluent/common language, high = junk or rare-token soup —
    the filterable axis CCNet buckets on).

    One explode over the fact table, one token-keyed aggregate (the vocab
    table, Zipf-bounded ≪ corpus), corpus totals as a 1-row broadcast
    cross join, then a doc-keyed aggregate. At 100 TB the vocab join stays
    a broadcast after frequency truncation (top-K vocab + the smoothing
    default covers the tail — standard LM practice); everything is
    codegen'd, no UDFs. Empty documents emit 0.0.

    ``tokens`` feeds a SHARED pre-tokenized (id_col, token) frame —
    non-empty tokens of each doc — so one materialized explode can serve
    this model, :func:`bigram_logppl`, and :func:`nb_classifier` in one
    plan instead of each (and each of their internal consumers)
    re-running the tokenize regex over the corpus. ``vocab`` likewise
    shares the (token, tf) corpus term-frequency table this model and
    :func:`bigram_logppl` would otherwise each re-aggregate. Values
    identical either way.
    """
    toks = (
        tokens.select(id_col, "token")
        if tokens is not None
        else documents.select(id_col, F.explode(T.tokens(text_col)).alias("token"))
    ).where(F.col("token") != "")  # both branches: a pre-filtered frame passes through
    if vocab is None:
        vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ppl = (
        toks.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(-F.log((F.col("tf") + F.lit(1.0)) / (F.col("total") + F.col("v")))), 6
            ).alias("unigram_logppl")
        )
    )
    return (
        documents.select(id_col)
        # SHUFFLE_HASH: ppl is one row per non-empty doc — derived (no
        # size stats), doc-keyed, hash-equi; a sort-merge buys nothing
        .join(ppl.hint("SHUFFLE_HASH"), id_col, "left")
        .select(id_col, F.coalesce("unigram_logppl", F.lit(0.0)).alias("unigram_logppl"))
    )


def hash_embed(
    documents: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E47: text → embedding by the feature-hashing trick — each token
    deterministically hashes to a pseudo-random vector (component j =
    md5-uniform in [-1, 1)), the document embedding is the MEAN over its
    token instances. This is the reference's embedding service re-shaped
    for the sandbox (``services/embedding_service.py``: spacy
    ``en_core_web_md`` mean-of-word-vectors; the model is absent here by
    design, and the hash table is the deterministic stand-in with the
    same mean-pooling shape — swap ``_component`` for a real embedding
    table lookup in production). Hashed word vectors are also legitimate
    practice in their own right (fasttext's hashed n-gram buckets).

    Every component is an exact rational (60-bit md5 integer / 2⁵⁹ − 1),
    and the mean-pool is computed ORDER-INDEPENDENTLY: the 60-bit hash
    integers sum exactly in DECIMAL(38,0) (no float accumulation order to
    differ between engines or partition layouts), then ONE double cast,
    one exact product n·2⁵⁹, one division, and one subtraction produce
    the component — so both engines materialize identical doubles and
    the whole text → embed → search pipeline sits under the hash gate
    (``global_topk`` ``text_embed`` member). A float AVG here would be
    summation-order-dependent — the one nondeterminism the §4 contract
    bans from certified members.

    Shape at 100 TB: one explode (doc × token × dim) of narrow rows, one
    (doc, dim) mean aggregate with map-side combine, one array assembly
    — no model broadcast, no UDF, embarrassingly parallel. Documents
    with no tokens produce no row (a mean over nothing is undefined);
    callers wanting a zero-vector fallback left-join it on.
    """
    from ..functions.vector import md5_long

    toks = (
        documents.select(id_col, F.explode(T.tokens(text_col)).alias("token"))
        .where(F.col("token") != "")
    )
    comps = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: md5_long(
                    F.concat(F.lit("he:"), j.cast("string"), F.lit(":"), F.col("token"))
                ),
            )
        ).alias("j", "h"),
    )
    # exact integer sum, then exactly one rounding per component:
    # m = Σh / (n·2⁵⁹) − 1 — the cast of the exact decimal sum is the
    # only rounded step, identical round-half-even in both engines
    vec = comps.groupBy(id_col, "j").agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    ).select(
        id_col,
        "j",
        (
            F.col("_s").cast("double")
            / (F.col("_n").cast("double") * F.lit(float(1 << 59)))
            - F.lit(1.0)
        ).alias("m"),
    )
    return (
        vec.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("j").alias("j"), F.col("m").alias("m")))
            ).alias("_s")
        )
        .select(id_col, F.transform("_s", lambda x: x["m"]).alias("embedding"))
    )


def nb_classifier(
    documents: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """E46: multinomial Naive Bayes document classifier — train AND apply
    in one plan. This is the scalable stand-in for the fasttext-style
    linear classifiers real CC pipelines gate quality/language on (CCNet,
    LLaMA's quality filter): training IS two exact count aggregations
    (token×class counts, class priors), so unlike SGD models it
    parallelizes embarrassingly, is bit-deterministic, and retrains
    incrementally by adding counts.

    score(doc, y) = ln P(y) + Σ_t ln p(t|y),
    p(t|y) = (c(t,y) + 1) / (n_y + |V|)  (add-1 smoothing);
    prediction = argmax_y score (ties by label asc), emitted with the
    winning log-score rounded 6 dp.

    Shape at 100 TB: one explode over the fact table; the (token, class)
    count table is Zipf-bounded ≪ corpus and broadcasts (top-K vocab
    truncation + the smoothing default covers the tail at scale); the
    doc×class score is a map-side-combinable SUM keyed by (doc, class)
    — L (number of classes) is small, so the explode fan-out is ×L, not
    ×|V|. No UDFs anywhere. Here it trains and applies on the same
    corpus (in-corpus certification; the apply path generalizes by
    left-joining unseen tokens to the smoothing default).

    ``tokens``: optional shared pre-tokenized frame carrying
    (id_col, label_col, token) — see :func:`unigram_logppl`.
    """
    toks = (
        tokens.select(id_col, F.col(label_col).alias("_y"), "token")
        if tokens is not None
        else documents.select(
            id_col, F.col(label_col).alias("_y"), F.explode(T.tokens(text_col)).alias("token")
        )
    ).where(F.col("token") != "")  # both branches: pre-filtered frames pass through
    cls_tok = toks.groupBy("_y", "token").agg(F.count(F.lit(1)).alias("c"))
    cls_tot = cls_tok.groupBy("_y").agg(F.sum("c").cast("double").alias("n_y"))
    vsize = toks.agg(F.countDistinct("token").cast("double").alias("v"))
    pri = (
        documents.groupBy(F.col(label_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    )
    pri = pri.crossJoin(
        F.broadcast(pri.agg(F.sum("n_docs").alias("n_all")))
    ).select("_y", F.log(F.col("n_docs") / F.col("n_all")).alias("log_prior"))

    classes = cls_tot.crossJoin(F.broadcast(vsize))  # priors join at scoring
    scored = (
        toks.select(id_col, "token")
        .join(F.broadcast(classes.select("_y", "n_y", "v")), how="cross")
        .join(F.broadcast(cls_tok), ["_y", "token"], "left")
        .groupBy(id_col, "_y")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_y") + F.col("v"))
                )
            ).alias("_ll")
        )
        .join(F.broadcast(pri), "_y")
        .select(id_col, "_y", (F.col("_ll") + F.col("log_prior")).alias("_score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_score").desc(), F.col("_y").asc())
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, F.col("_y").alias("nb_pred"), F.round("_score", 6).alias("nb_logscore"))
    )
    # empty documents: no tokens → no scored rows; predict the max-prior
    # class (ties by label) at its bare prior, the argmax over an empty sum
    top_pri = (
        pri.orderBy(F.col("log_prior").desc(), F.col("_y").asc()).limit(1)
        .select(F.col("_y").alias("_py"), F.round("log_prior", 6).alias("_ps"))
    )
    # SHUFFLE_HASH: `best` is one row per non-empty doc — too big to
    # broadcast at scale, and a sort buys nothing for a hash-equi join
    # (registry no-SMJ contract; the merge_upsert idiom)
    return (
        documents.select(id_col)
        .join(best.hint("SHUFFLE_HASH"), id_col, "left")
        .crossJoin(F.broadcast(top_pri))
        .select(
            id_col,
            F.coalesce("nb_pred", F.col("_py")).alias("nb_pred"),
            F.coalesce("nb_logscore", F.col("_ps")).alias("nb_logscore"),
        )
    )


def bigram_logppl(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.5,
    tokens: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """E43: interpolated bigram-LM quality signal — the context-aware step
    up from :func:`unigram_logppl` (CCNet's production filter is a 5-gram
    KenLM; the interpolation structure is the same):

    p(w | prev) = λ·c(prev,w)/tf(prev) + (1−λ)·p_uni(w), first token of a
    doc scores p_uni alone; bigram_logppl(doc) = mean −ln p, rounded 6 dp.
    Both models are trained on the corpus itself, so c(prev,w) ≥ 1 for
    every observed transition — fluent repeated phrasing scores low,
    token-soup transitions score near the unigram floor.

    Shape: one posexplode + per-doc lag window (prev token), a
    (prev,w)-keyed count, one broadcastable vocab join. At 100 TB the
    bigram table gets frequency-truncated exactly like the vocab (tail
    transitions fall back to the unigram term — standard LM practice).

    ``tokens``: optional shared pre-tokenized frame carrying
    (id_col, pos, token) — see :func:`unigram_logppl`. ``pos`` must be
    the token's position in the ORIGINAL token sequence (empty tokens
    removed but positions kept) so the lag window sees the same order.
    ``vocab``: optional shared (token, tf) table, as in
    :func:`unigram_logppl`.
    """
    toks = (
        tokens.select(id_col, "pos", "token")
        if tokens is not None
        else documents.select(id_col, F.posexplode(T.tokens(text_col)).alias("pos", "token"))
    ).where(F.col("token") != "")  # both branches: pre-filtered frames pass through
    w = Window.partitionBy(id_col).orderBy("pos")
    seq = toks.withColumn("prev", F.lag("token").over(w))
    if vocab is None:
        vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    bg = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p_uni = (F.col("tf") + F.lit(1.0)) / (F.col("total") + F.col("v"))
    p = F.when(
        F.col("prev").isNull(), p_uni
    ).otherwise(
        F.lit(lam) * (F.col("c") / F.col("tfp")) + F.lit(1.0 - lam) * p_uni
    )
    ppl = (
        seq.join(F.broadcast(vocab), "token")
        .join(
            F.broadcast(vocab.select(F.col("token").alias("prev"), F.col("tf").alias("tfp"))),
            "prev", "left",
        )
        .join(bg, ["prev", "token"], "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(F.round(F.avg(-F.log(p)), 6).alias("bigram_logppl"))
    )
    return (
        documents.select(id_col)
        # SHUFFLE_HASH: same rationale as unigram_logppl's final join
        .join(ppl.hint("SHUFFLE_HASH"), id_col, "left")
        .select(id_col, F.coalesce("bigram_logppl", F.lit(0.0)).alias("bigram_logppl"))
    )


def dsir_weights(
    documents: DataFrame,
    target,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 — "Data
    Selection for Language Models via Importance Resampling"): score every
    raw document by how target-domain-like it is under hashed n-gram bag
    models, so raw data can be resampled toward a target distribution.

    ``target`` is a boolean Column marking the target-domain exemplar docs.
    Features are unigrams + bigrams hashed into ``n_buckets`` buckets
    (DSIR's hashed n-gram generative model); each bucket gets an add-1-
    smoothed probability under the target and raw distributions, and

        weight(doc) = Σ_grams ln p_target(bucket) − ln p_raw(bucket)

    — the log importance ratio, rounded 6 dp. Positive → looks like the
    target; the caller resamples/top-selects on it.

    Scale: ONE gram explode over the fact table, immediately folded to
    per-(doc, bucket) counts (map-side combinable — the only fact-sized
    shuffle); corpus-level bucket counts derive from that small table, the
    n_buckets-sized ratio table broadcast-joins back, and the doc weight
    is Σ cnt·llr. All codegen, no UDFs, exact DuckDB oracle. Docs with no
    grams weigh 0.
    """
    t = documents.select(id_col, T.tokens(text_col).alias("_toks"), target.alias("_tgt"))
    # guard n>=2 BEFORE building the index range: sequence(1, 0) would be
    # DESCENDING in Spark and index past the array (same guard as
    # text.top_bigram_frac)
    bi = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_toks", i), F.element_at("_toks", i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bucket = (
        t.select(id_col, "_tgt", F.explode(F.concat("_toks", bi)).alias("_g"))
        .where(F.col("_g") != "")
        .select(id_col, "_tgt", F.pmod(md5_long("_g"), F.lit(n_buckets)).alias("bucket"))
        .groupBy(id_col, "_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()  # feeds the corpus counts AND the doc weights
    )
    counts = doc_bucket.groupBy("bucket").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(F.col("_tgt"), F.col("cnt")).otherwise(0)).alias("ct"),
    )
    totals = counts.agg(
        F.sum("cr").cast("double").alias("tr"), F.sum("ct").cast("double").alias("tt")
    )
    llr = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + F.lit(float(n_buckets))))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(float(n_buckets))))
        ).alias("_llr"),
    )
    per_doc = (
        doc_bucket.join(F.broadcast(llr), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("cnt") * F.col("_llr")), 6).alias("dsir_weight"))
    )
    return (
        documents.select(id_col)
        .join(per_doc, id_col, "left")
        .select(id_col, F.coalesce("dsir_weight", F.lit(0.0)).alias("dsir_weight"))
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking (E33) — the RAG/context-window prep
    step: token windows of ``chunk_tokens`` with ``overlap`` tokens shared
    between neighbours (stride = chunk_tokens - overlap); the final partial
    window is kept. Emits one row per chunk: (doc_id, chunk_idx,
    start_token, n_chunk_tokens, chunk_hash) where chunk_hash = md5 of the
    space-joined window — compact and oracle-hashable without shipping the
    text twice.

    Scale: pure per-row codegen — split, sequence+explode, slice, md5; no
    shuffle at all (narrow map over the scan), so it pipelines into
    whatever consumer follows. Chunk count per doc is
    1 + ceil(max(n - chunk, 0) / stride), bounded by doc length.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    d = documents.select(
        id_col, T.tokens(text_col).alias("toks")
    ).withColumn("n", F.size("toks"))
    n_chunks = F.when(F.col("n") <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((F.col("n") - chunk_tokens) / F.lit(float(stride)))
    ).cast("int")
    e = d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    start = (F.col("chunk_idx") * stride).cast("int")
    ln = F.least(F.lit(chunk_tokens), F.col("n") - start)
    return e.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_token"),
        ln.cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(F.slice("toks", start + 1, ln), " ")).alias("chunk_hash"),
    )


def build_vocab(
    documents: DataFrame,
    vocab_size: int = 256,
    min_len: int = 2,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary build (E34): global token counts → the top
    ``vocab_size`` terms by (count desc, term asc) with dense ids — the
    tokenizer-training prestep (word-level; the BPE merge loop would start
    from exactly this table).

    Scale: one shuffle on the term key with full map-side combine; the
    top-V is ``orderBy().limit(V)`` = TakeOrderedAndProject (each task
    keeps V rows, one bounded merge — never a global sort), and the dense
    id window runs over only V surviving rows.
    """
    # r12: split the serial single-file scan ahead of the tokenize explode
    toks = parallelize_scan(documents).select(F.explode(T.tokens(text_col)).alias("term")).where(
        F.length("term") >= min_len
    )
    counts = (
        toks.groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= min_count)
    )
    top = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(vocab_size)
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return top.withColumn("term_id", F.row_number().over(w).cast("long")).select(
        "term_id", "term", "n"
    )


def weighted_reservoir_sample(
    documents: DataFrame,
    weights: dict[str, float],
    k: int = 100,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 0.1,
) -> DataFrame:
    """Efraimidis–Spirakis A-ES weighted sampling WITHOUT replacement
    (E37): fixed-size k, inclusion probability ∝ weight — the exact-size
    companion to ``mixture_sample``'s Bernoulli thinning (which only hits
    the mix in expectation). Per doc: u = md5-uniform in (0, 1],
    key = −ln(u)/w (the exponential-race form of uⁱ^(1/wᵢ)); the k
    SMALLEST keys win.

    Determinism: the uniform is the same 60-bit md5 grid the oracle
    replays; keys are rounded to 9 dp (ln differs across libm by ≤1 ulp —
    rounding pins the grid), ties by id.

    Scale: stateless per-row key computation in the scan, then global
    k-smallest = ``orderBy().limit(k)`` → TakeOrderedAndProject (each
    task keeps k rows, one bounded merge) — never a full sort, no shuffle
    of the corpus.
    """
    u = ((md5_long(F.col(id_col).cast("string"), salt="es") % 1_000_000) + 1) / F.lit(1_000_000.0)
    w = F.lit(default_weight)
    for src, frac in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, F.lit(frac)).otherwise(w)
    keyed = documents.withColumn("es_key", F.round(-F.log(u) / w, 9))
    return keyed.orderBy(F.col("es_key").asc(), F.col(id_col).asc()).limit(k)


def bpe_train_and_encode(
    documents: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """BPE-style pair-merge tokenizer training (E38), word-level symbols:
    repeat ``n_merges`` times — count adjacent symbol pairs corpus-wide,
    take the most frequent (ties by pair, ascending), merge every
    greedy-non-overlapping occurrence, re-tokenize. Char-level BPE is the
    identical plan over char arrays; word-level is also exactly gensim-style
    phrase detection. Returns ``(rules, encoded)``: the learned rules
    (step, sym_a, sym_b, merged, n) and the corpus ENCODED with them —
    per doc the post-merge token count and an md5 of the token sequence
    (E42 tokenizer application; the final loop state is the encoding, so
    training + applying costs one pass).

    Greedy left-to-right overlap resolution is a per-row array fold
    (``aggregate`` over token indices): exactly the rows a left-to-right
    scanner takes, replayed verbatim by the SQL oracle's equivalent
    windowed formulation (same greedy semantics, proven by the hash gate).

    Scale: per iteration — pair counting is a NARROW per-row transform +
    explode (no posexplode/window/doc shuffle; the token array never
    leaves its row), pair counts aggregate with map-side combine, a
    top-1 collect for the rule (the single-row collect is the rule
    broadcast — same class as centroid collects), and the re-tokenize is
    a pure map over the array column — zero doc-keyed shuffles in the
    whole loop. Lineage is truncated per iteration.
    """
    # r12: split the serial single-file scan ahead of the initial tokenize;
    # every merge round inherits the parallel layout through the per-round
    # lineage truncation (size-gated — see parallelize_scan)
    toks = parallelize_scan(documents).select(id_col, T.tokens(text_col).alias("toks"))
    rules = []
    empty_out = F.expr("CAST(array() AS array<string>)")
    for step in range(1, n_merges + 1):
        pairs = (
            toks.where(F.size("toks") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("tok"),
                            F.element_at("toks", i + 1).alias("nxt"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.tok", "p.nxt")
        )
        best = (
            pairs.groupBy("tok", "nxt")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("tok").asc(), F.col("nxt").asc())
            .limit(1)
            .first()
        )
        if best is None:
            break
        a, b, n = best["tok"], best["nxt"], best["n"]
        merged = f"{a}_{b}"
        rules.append((step, a, b, merged, n))
        la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
        # Greedy non-overlap merge WITHOUT the O(len²) accumulate-by-
        # concat fold: (1) the match positions (tok[i]=a ∧ tok[i+1]=b)
        # are a small array; (2) greedy overlap resolution (drop a match
        # adjacent to the previously kept one — only possible when
        # a = b runs overlap) folds over THAT array, O(matches²) worst
        # case on pathological single-token docs but O(matches) copies
        # in practice — never O(tokens²); (3) the output re-tokenizes
        # with a transform + filter, O(tokens·|kept|) membership checks.
        # Same left-to-right scanner the SQL oracle replays.
        matches = F.filter(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: (F.element_at("toks", i) == la) & (F.element_at("toks", i + 1) == lb),
        )
        kept = F.aggregate(
            matches,
            F.expr("CAST(array() AS array<int>)"),
            lambda acc, p: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == p - 1), acc
            ).otherwise(F.concat(acc, F.array(p.cast("int")))),
        )
        rebuilt = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: F.when(F.array_contains(F.col("_kept"), i.cast("int")), lm)
                .when(
                    F.array_contains(F.col("_kept"), (i - 1).cast("int")),
                    F.lit(None).cast("string"),
                )
                .otherwise(F.element_at("toks", i)),
            ),
            lambda x: x.isNotNull(),
        )
        toks = (
            toks.withColumn("_kept", F.when(F.size("toks") >= 2, kept).otherwise(F.expr("CAST(array() AS array<int>)")))
            .select(
                id_col,
                F.when(F.size("toks") > 0, rebuilt).otherwise(empty_out).alias("toks"),
            )
            .localCheckpoint(eager=False)
        )
    spark = documents.sparkSession
    from ..sources import literal_df

    # r12 guide §6: Arrow literal path (no per-job Python re-pickle)
    rules_df = literal_df(
        spark, rules, "step long, sym_a string, sym_b string, merged string, n long"
    )
    # the loop's final token state IS the encoded corpus (E42 BPE
    # application): expose it alongside the rules so entries that need
    # both train once
    encoded = toks.select(
        id_col,
        F.size("toks").cast("long").alias("n_bpe_tokens"),
        F.md5(F.array_join("toks", " ")).alias("toks_hash"),
    )
    return rules_df, encoded


def bpe_merge_rules(
    documents: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    return bpe_train_and_encode(documents, n_merges, id_col, text_col)[0]


def shard_corpus(
    documents: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E40 deterministic training-shard assignment — the "global shuffle"
    before LLM training WITHOUT a global sort: shard = md5(doc_id) mod
    n_shards, within-shard order = a second independent md5. Hash
    assignment balances shards to within sampling noise and is
    reproducible across engines/runs (unlike rand()); the within-shard
    order hash is the deterministic stand-in for a shuffle seed.

    Emits one summary row per shard: doc/token totals (balance audit),
    the head doc under the shard order (order determinism probe) and an
    order-INdependent checksum over member order-hashes (membership
    proof). Scale: one narrow projection + one aggregate with map-side
    combine on an ``n_shards``-ary key; writing the actual shards is
    ``df.write.partitionBy('shard_id')`` with ``sortWithinPartitions`` —
    no stage ever globally sorts the corpus.
    """
    from ..functions import text as T
    from ..functions.vector import md5_long

    d = documents.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(md5_long(F.concat(F.lit("shard:"), F.col(id_col).cast("string"))), F.lit(n_shards))
        .cast("long").alias("shard_id"),
        md5_long(F.concat(F.lit("ord:"), F.col(id_col).cast("string"))).alias("order_hash"),
        T.token_count(text_col).cast("long").alias("n_tokens"),
    )
    return d.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min(F.struct("order_hash", "doc_id")).getField("doc_id").alias("head_doc"),
        F.sum(F.pmod(F.col("order_hash"), F.lit(2147483647))).alias("order_checksum"),
    )


def temperature_mixture_sample(
    documents: DataFrame,
    tau: float = 0.7,
    source_col: str = "source",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """E45: temperature-scaled source reweighting — the multilingual-
    pretraining mixing knob (XLM-R / mT5: sample sources ∝ p_s^τ, τ<1
    flattens toward uniform so low-resource sources aren't drowned).

    Target share q_s ∝ p_s^τ; the per-source acceptance rate is
    r_s = min(1, round(n_s^(τ−1)·N / Σ_t n_t^τ, 6)) — over-represented
    sources are DOWN-sampled to the tempered share (up-sampling a small
    source is a repeat factor at batch assembly, not a row filter).
    Membership is the §4 content-hash rule: md5('tm:'+id) below
    floor(r_s·2^60) — an integer threshold, so the cut is bit-exact
    cross-engine (a double CAST truncates in Spark but rounds in DuckDB;
    floor() agrees everywhere).

    Shape: one source-keyed count (sources ≪ corpus → broadcast), one
    narrow filter over the fact scan. Emits kept rows with ``accept_rate``.
    """
    c = documents.groupBy(source_col).agg(F.count(F.lit(1)).cast("double").alias("n_s"))
    tots = c.agg(
        F.sum("n_s").alias("N"), F.sum(F.pow("n_s", F.lit(tau))).alias("S")
    )
    rates = (
        c.crossJoin(F.broadcast(tots))
        .select(
            source_col,
            F.least(
                F.lit(1.0),
                F.round(F.pow("n_s", F.lit(tau - 1.0)) * F.col("N") / F.col("S"), 6),
            ).alias("accept_rate"),
        )
    )
    h = md5_long(F.concat(F.lit("tm:"), F.col(id_col).cast("string")))
    thresh = F.floor(F.col("accept_rate") * F.lit(float(1 << 60))).cast("long")
    return (
        documents.join(F.broadcast(rates), source_col)
        .where(h < thresh)
        .select(id_col, source_col, *extra_cols, "accept_rate")
    )

