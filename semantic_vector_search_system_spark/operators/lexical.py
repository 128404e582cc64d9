"""Lexical (sparse / inverted-index) retrieval and span-level dedup.

BM25 extends the engine's lexical stack (TF-IDF pinned-vocabulary
retrieval, operators/encode.py:278) with the tf-saturation +
document-length-normalization ranking function used by every production
lexical search system; span dedup extends the document-level near-dup
family (operators/dedup.py) with sub-document granularity — the "exact
substring dedup" stage of large-scale training-data pipelines
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better": repeated spans are removed even when whole documents differ).

Reference parity: the reference's lexical surface is the DummyEncoder
TF-IDF mode (`embeddings/encoder.py:78-89`); BM25 and span dedup are
beyond-reference operators from the LLM-pipeline brief.

Cross-engine determinism (catalog rules): no ln/exp — BM25 uses the
log-free odds idf ``(N - df + 0.5) / (df + 0.5)`` (the argument of the
classic Robertson–Sparck-Jones log idf; per-term monotone in df, division
is IEEE-exact); per-pair scores sum in DECIMAL(38,12) so summation order
cannot change the value hash; candidate sets are the sparse equi-join's
natural rows (pairs sharing >= 1 surviving term); ties break on docid.

100 TB shape: everything is a keyed shuffle — tf/df/dl are hash
aggregations, the query-document dot is an equi-join on token (the
distributed inverted index), and the stopword cut (df > max_df_ratio * N
dropped) removes exactly the tokens whose postings lists would skew the
join. Span dedup shuffles once by chunk hash (keep-first min-struct
aggregation — map-side partials collapse boilerplate-chunk skew before
the exchange) and once by doc_id (reassembly) — both keyed, no driver
state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.quantize import quantize

from ..functions.hashing import stable_hash64
from ..functions.text import tokenize


def _dec_sum(col: Column) -> Column:
    # DECIMAL summation is exact and order-insensitive (catalog rule);
    # double summation order differs between engines and would break the
    # value hash.
    return F.sum(col.cast("decimal(38,12)")).cast("double")


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 0.5,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    q_text: str = "text",
    q_id: str = "qid",
    materialize_tf: bool = True,
) -> DataFrame:
    """Sparse BM25 scores ``(qid, docid, score)`` for every query-document
    pair sharing at least one surviving term.

    Plan: tokenize the corpus (narrow), aggregate the (docid, tok)
    term-frequency relation — the postings index — then derive dl / df /
    avgdl FROM it, drop stopwords (df > max_df_ratio * N — the skew cut:
    those postings lists are the only super-linear join keys), and score
    through the token equi-join. N and avgdl are single-row aggregates
    (broadcast for free).

    ``materialize_tf`` (default on) localCheckpoints the postings
    relation: the three consumers (dl, df, the scoring join) prune
    different columns, which defeats Catalyst's exchange reuse — measured
    on the declarative form, the corpus was scanned 6x and the token
    explode+shuffle ran 3x. Materializing tf is also the production
    contract: the postings relation IS the index a serving system keeps,
    orders of magnitude smaller than the raw text it derives from.

    The per-term contribution is computed with a pinned association order
    so both engines produce bit-identical doubles::

        ((idf * (tf * (k1+1))) / (tf + k1 * ((1-b) + b * dl/avgdl))) * qtf
    """
    postings = bm25_postings(
        docs,
        k1=k1,
        b=b,
        max_df_ratio=max_df_ratio,
        doc_text=doc_text,
        doc_id=doc_id,
        materialize_tf=materialize_tf,
    )
    return _bm25_score_postings(postings, queries, q_text=q_text, q_id=q_id)


def bm25_postings(
    docs: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 0.5,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    materialize_tf: bool = True,
) -> DataFrame:
    """The weighted postings relation ``(tok, docid, w)`` with the
    per-posting BM25 weight fully precomputed (idf, tf saturation, length
    normalization all folded in) — serving is then a pure
    join-and-DECIMAL-sum. This IS the index: ~one row per distinct
    (doc, term), orders of magnitude smaller than the text."""
    dtok = docs.select(
        F.col(doc_id).alias("docid"),
        F.explode(tokenize(doc_text)).alias("tok"),
    )
    # tf rows are distinct (docid, tok) pairs by construction, so df is a
    # row count and dl an integer sum over tf — no distinct() pass.
    tf = dtok.groupBy("docid", "tok").agg(F.count("*").alias("_c"))
    if materialize_tf:
        tf = tf.localCheckpoint()
    # ONE doc-keyed aggregation serves both dl and avgdl (integer sums —
    # exact, so the avgdl division is deterministic)
    dl_int = tf.groupBy("docid").agg(F.sum("_c").alias("_dl"))
    dl = dl_int.select("docid", F.col("_dl").cast("double").alias("dl"))
    n_df = docs.select(F.count("*").cast("double").alias("n_docs"))
    avg_df = dl_int.agg(
        (F.sum("_dl").cast("double")).alias("_tot"),
        F.count("*").cast("double").alias("_nd"),
    ).select((F.col("_tot") / F.col("_nd")).alias("avgdl"))
    df = (
        tf.groupBy("tok")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(n_df))
        .filter(F.col("df") <= F.lit(max_df_ratio) * F.col("n_docs"))
        .select(
            "tok",
            (
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    tf = tf.select("docid", "tok", F.col("_c").cast("double").alias("tf"))
    return (
        tf.join(df, "tok")
        .join(dl, "docid")
        .crossJoin(F.broadcast(avg_df))
        .select(
            "tok",
            "docid",
            (
                (
                    F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0))
                )
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
                )
            ).alias("w"),
        )
    )


def _bm25_score_postings(
    postings: DataFrame,
    queries: DataFrame,
    *,
    q_text: str = "text",
    q_id: str = "qid",
) -> DataFrame:
    """Score queries against a (tok, docid, w) postings relation: the
    tiny qtf side broadcasts, so the postings scan streams un-shuffled
    into the join; only the matched rows shuffle for the per-(qid, docid)
    DECIMAL sum."""
    qtok = queries.select(
        F.col(q_id).alias("qid"),
        F.explode(tokenize(q_text)).alias("tok"),
    )
    qtf = qtok.groupBy("qid", "tok").agg(F.count("*").cast("double").alias("qtf"))
    return (
        F.broadcast(qtf).join(postings, "tok")
        .groupBy("qid", "docid")
        .agg(_dec_sum(F.col("w") * F.col("qtf")).alias("score"))
    )


def write_bm25_index(
    docs: DataFrame,
    table_prefix: str,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 0.5,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    n_buckets: int = 32,
) -> dict:
    """Build and PERSIST the BM25 index as a bucketed warehouse table —
    the lexical analog of ``write_neardup_index``: a serving process
    reads the postings from storage and never touches the corpus text.

    Writes ``<prefix>_postings`` (tok, docid, w) ``bucketBy(n_buckets,
    tok)`` sorted by tok — co-located for large query batches joined on
    tok (small batches broadcast and don't need it) — and
    ``<prefix>_meta`` (one row: the scoring parameters, so a serving
    call can never silently mix parameterizations). Returns the meta
    dict."""
    spark = docs.sparkSession
    postings = bm25_postings(
        docs, k1=k1, b=b, max_df_ratio=max_df_ratio,
        doc_text=doc_text, doc_id=doc_id,
    )
    (
        postings.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "tok").sortBy("tok")
        .saveAsTable(f"{table_prefix}_postings")
    )
    meta = {
        "k1": k1, "b": b, "max_df_ratio": max_df_ratio,
        "n_buckets": n_buckets,
    }
    spark.createDataFrame(
        [(k1, b, max_df_ratio, n_buckets)],
        "k1 double, b double, max_df_ratio double, n_buckets int",
    ).write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_meta"
    )
    return meta


def bm25_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    k: int = 5,
    q_text: str = "text",
    q_id: str = "qid",
) -> DataFrame:
    """Serve top-k BM25 from a STORED postings index: broadcast the query
    terms, stream the postings scan through the join (no shuffle on the
    index side — plan-gated in tests), DECIMAL-sum per pair, rank. The
    corpus text is never read."""
    spark.catalog.refreshTable(f"{table_prefix}_postings")
    postings = spark.read.table(f"{table_prefix}_postings")
    scored = _bm25_score_postings(postings, queries, q_text=q_text, q_id=q_id)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", quantize(F.col("score"), 4).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    **kwargs,
) -> DataFrame:
    """Top-k BM25 retrieval ``(qid, docid, rank, score)`` with docid
    tie-break; score rounded to 4 decimals for the engine-portable hash."""
    scored = bm25_scores(docs, queries, **kwargs)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", quantize(F.col("score"), 4).alias("score"))
    )


def _first_occurrence(
    rows: DataFrame,
    doc_id: str,
    *,
    with_chunk: bool,
    keep_first: str = "agg",
) -> DataFrame:
    """First occurrence — min ``(doc_id, pos)`` — per chunk hash ``h``
    over a ``(doc_id, pos, h[, chunk])`` relation.

    * ``keep_first="agg"`` (default): ``groupBy(h).agg(min(struct(doc_id,
      pos[, chunk])))``. MIN is a declarative aggregate, so Spark runs a
      PARTIAL aggregation map-side before the exchange: a boilerplate
      chunk (nav text, license header) repeated 1e8 times across a
      100 TB corpus collapses to ONE candidate row per input partition
      before anything shuffles — per-reducer row count is bounded by the
      partition count, not the duplication factor. The struct comparison
      is (doc_id, pos)-lexicographic; those pairs are unique per row, so
      the trailing chunk field never participates in the ordering.
    * ``keep_first="window"``: the ``row_number() over (partition by h
      order by doc_id, pos)`` form — retained for parity tests and A/B.
      Identical output, but every duplicate row ships to the hash key's
      single reducer BEFORE ranking: row count at the hot key equals the
      duplication factor, the straggler shape at web scale.
    """
    if keep_first not in ("agg", "window"):
        raise ValueError(f"unknown keep_first strategy {keep_first!r}")
    if keep_first == "window":
        w = Window.partitionBy("h").orderBy(F.asc(doc_id), F.asc("pos"))
        out = rows.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        cols = [doc_id, "pos"] + (["chunk"] if with_chunk else [])
        return out.select(*cols)
    fields = [F.col(doc_id).alias("_d"), F.col("pos").alias("_p")]
    sel = [F.col("_w._d").alias(doc_id), F.col("_w._p").alias("pos")]
    if with_chunk:
        fields.append(F.col("chunk").alias("_c"))
        sel.append(F.col("_w._c").alias("chunk"))
    return (
        rows.groupBy("h")
        .agg(F.min(F.struct(*fields)).alias("_w"))
        .select(*sel)
    )


def _chunk_rows_fast(
    docs: DataFrame, span_tokens: int, doc_text: str, doc_id: str
) -> DataFrame:
    """Arrow-kernel face of span_dedup's chunk construction (r15, guide
    §4.2; r14 VERDICT "Next #4"): one narrow ``mapInPandas`` pass emits
    the exploded ``(doc_id, pos, h, chunk)`` relation — replacing the
    codegen tokenize → ``transform(sequence, slice+array_join)`` →
    ``posexplode`` → per-chunk md5 chain that was the measured floor of
    the 1M bench key (~7.5 s of per-chunk slice/join/md5 expressions).

    BITWISE parity with the expression face (pytest-pinned):

    * tokens come from :func:`py_tokenize` — the exact Java ``\\s``
      separator class of :func:`tokenize` (NOT ``str.split()``, which
      also splits on unicode whitespace);
    * a chunk is ``" ".join(tokens[p*span : (p+1)*span])`` — exactly
      ``array_join(slice(...), " ")``;
    * ``h`` replays :func:`stable_hash64` via the md5 prefix
      (``stable_hash64_py``), memoized per DISTINCT chunk per Arrow
      batch — a boilerplate-heavy corpus pays one digest per distinct
      chunk and batch instead of one md5 expression per chunk INSTANCE,
      and the memo never outgrows one batch (a per-task memo would grow
      with every distinct chunk of a partition);
    * docs with 0 tokens emit no rows, like posexplode of an empty array.
    """
    import pandas as pd

    from ..functions.hashing import stable_hash64_py
    from ..functions.text import py_tokenize

    id_type = dict(docs.dtypes)[doc_id]
    schema = f"`{doc_id}` {id_type}, pos int, h long, chunk string"

    def fn(batches):
        for pdf in batches:
            memo: dict[str, int] = {}  # chunk -> h, for this batch only
            ids, poss, hs, chunks = [], [], [], []
            for did, t in zip(pdf[doc_id], pdf[doc_text]):
                toks = py_tokenize(t) if t else []
                for p in range(-(-len(toks) // span_tokens)):
                    c = " ".join(toks[p * span_tokens:(p + 1) * span_tokens])
                    h = memo.get(c)
                    if h is None:
                        h = memo[c] = stable_hash64_py(c)
                    ids.append(did)
                    poss.append(p)
                    hs.append(h)
                    chunks.append(c)
            if ids:
                yield pd.DataFrame(
                    {doc_id: ids, "pos": poss, "h": hs, "chunk": chunks}
                )

    return docs.select(doc_id, doc_text).mapInPandas(fn, schema=schema)


def span_dedup(
    docs: DataFrame,
    *,
    span_tokens: int = 20,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    shuffle: str = "chunks",
    keep_first: str = "agg",
    chunker: str = "expr",
) -> DataFrame:
    """Sub-document exact span dedup: split every document into
    non-overlapping ``span_tokens``-word chunks, keep the globally FIRST
    occurrence of each distinct chunk (ordered by doc_id, then position),
    drop every repeat, and reassemble the surviving text per document.

    Returns ``(doc_id, n_chunks, n_kept, dedup_text)`` — one row per input
    document (documents whose every chunk was seen earlier keep an empty
    dedup_text rather than disappearing).

    Two physical strategies, identical output (parity-tested):

    * ``shuffle="chunks"`` (default): chunk text rides through the
      keep-first window and the reassembly agg — the corpus is tokenized
      ONCE, chunk bytes move ~3x. Fastest when shuffle is cheap relative
      to CPU: interleaved A/B at the 1M bench key on local[32] (in-memory
      shuffle) measured 9.5-10.2 s vs 14.7-16.7 s for the keys form,
      whose two extra tokenize passes cost more than the memcpy shuffles
      saved.
    * ``shuffle="keys"``: ONLY INTEGERS shuffle — the window moves
      (hash, doc_id, pos) triples, surviving positions aggregate to one
      int-list per doc, and the surviving text is re-sliced from the
      original document in a narrow map after one doc_id-keyed join.
      Corpus bytes cross the network once instead of three times — the
      form to pick on a network-bound cluster where a 100 TB corpus
      makes 3x shuffle bytes the wall, at the price of tokenizing twice.

    Either way the keep-first decision is one min-struct AGGREGATION
    keyed on the chunk hash (``keep_first="agg"``, the default — see
    :func:`_first_occurrence`): map-side partial aggregation collapses a
    boilerplate chunk's duplicates inside each scan partition before the
    exchange, so the hot key's reducer sees at most one row per input
    partition instead of the full duplication factor. The legacy
    ``keep_first="window"`` row_number form is retained for parity/A-B.
    Nothing is driver-side, nothing is all-pairs.

    ``chunker`` (``shuffle="chunks"`` only): ``"expr"`` (default, the
    oracle-replayable Catalyst face) or ``"arrow"`` — the
    :func:`_chunk_rows_fast` kernel with per-distinct-chunk memoized
    digests, BITWISE-identical rows (parity-tested incl. unicode
    whitespace / empty / exact-multiple edges).  The arrow face is the
    1M bench path: the expr face's per-chunk slice+array_join+md5
    expressions were the measured floor of the key.  Everything
    downstream of chunk construction (keep-first agg, reassembly agg,
    base join) is the same plan.
    """
    if shuffle not in ("chunks", "keys"):
        raise ValueError(f"unknown shuffle strategy {shuffle!r}")
    if chunker not in ("expr", "arrow"):
        raise ValueError(f"unknown chunker {chunker!r} (expr|arrow)")
    if chunker == "arrow" and shuffle != "chunks":
        raise ValueError("chunker='arrow' implements the chunks strategy")
    toks = tokenize(doc_text)
    n_chunks = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("long")
    # a whitespace-only doc has 0 tokens -> 0 chunks; guard the sequence
    # (sequence(0, -1) is an error, not empty)
    chunk_seq = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    if shuffle == "chunks":
        if chunker == "arrow":
            rows = _chunk_rows_fast(docs, span_tokens, doc_text, doc_id)
        else:
            rows = docs.select(
                F.col(doc_id),
                F.posexplode(
                    F.transform(
                        chunk_seq,
                        lambda i: F.array_join(
                            F.slice(toks, i * span_tokens + 1, span_tokens),
                            " ",
                        ),
                    )
                ).alias("pos", "chunk"),
            ).withColumn("h", stable_hash64("chunk"))
        kept = _first_occurrence(
            rows,
            doc_id,
            with_chunk=True,
            keep_first=keep_first,
        )
        per_doc = kept.groupBy(doc_id).agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("dedup_text"),
        )
        base = docs.select(F.col(doc_id), n_chunks.alias("n_chunks"))
        return base.join(per_doc, doc_id, "left").select(
            doc_id,
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    chunk_keys = docs.select(
        F.col(doc_id),
        F.posexplode(
            F.transform(
                chunk_seq,
                lambda i: stable_hash64(
                    F.array_join(
                        F.slice(toks, i * span_tokens + 1, span_tokens), " "
                    )
                ),
            )
        ).alias("pos", "h"),
    )
    kept = (
        _first_occurrence(
            chunk_keys, doc_id, with_chunk=False, keep_first=keep_first
        )
        .groupBy(doc_id)
        .agg(
            F.count("*").alias("n_kept"),
            F.sort_array(F.collect_list("pos")).alias("_kept_pos"),
        )
    )
    return docs.join(kept, doc_id, "left").select(
        F.col(doc_id),
        n_chunks.alias("n_chunks"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.col("_kept_pos"),
                    lambda p: F.array_join(
                        F.slice(toks, p * span_tokens + 1, span_tokens), " "
                    ),
                ),
            ),
            F.lit(""),
        ).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# Incremental span dedup against a STORED chunk-hash index (crawl loop)
# ---------------------------------------------------------------------------

def _chunk_keys(docs: DataFrame, span_tokens: int, doc_text: str, doc_id: str):
    toks = tokenize(doc_text)
    n_chunks = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("long")
    chunk_seq = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    return docs.select(
        F.col(doc_id),
        F.posexplode(
            F.transform(
                chunk_seq,
                lambda i: F.struct(
                    stable_hash64(
                        F.array_join(
                            F.slice(toks, i * span_tokens + 1, span_tokens),
                            " ",
                        )
                    ).alias("h"),
                    F.array_join(
                        F.slice(toks, i * span_tokens + 1, span_tokens), " "
                    ).alias("chunk"),
                ),
            )
        ).alias("pos", "pc"),
    ).select(doc_id, "pos", "pc.h", "pc.chunk")


def write_span_index(
    docs: DataFrame,
    table_prefix: str,
    *,
    span_tokens: int = 20,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    n_buckets: int = 32,
) -> dict:
    """Persist the corpus' DISTINCT chunk hashes as a ``bucketBy(h)``
    warehouse table + a meta table carrying ``span_tokens`` — the stored
    state of the crawl-loop span dedup (every chunk ever seen has exactly
    one kept first occurrence, so the seen-hash set IS the dedup state;
    8 B per distinct chunk, ~1000x smaller than the text)."""
    spark = docs.sparkSession
    hashes = (
        _chunk_keys(docs, span_tokens, doc_text, doc_id)
        .select("h")
        .distinct()
    )
    (
        hashes.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "h").sortBy("h")
        .saveAsTable(f"{table_prefix}_chunks")
    )
    spark.createDataFrame(
        [(span_tokens, n_buckets)], "span_tokens int, n_buckets int"
    ).write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_meta"
    )
    return {"span_tokens": span_tokens, "n_buckets": n_buckets}


def incremental_span_dedup(
    new_docs: DataFrame,
    table_prefix: str,
    *,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    update_index: bool = True,
) -> DataFrame:
    """Span-dedup a NEW batch against the stored chunk-hash index — the
    daily-crawl loop at sub-document granularity (the doc-level analog is
    ``incremental_neardup``): a chunk survives iff its hash is absent
    from the index AND it is the batch-first occurrence (by doc_id, pos).
    Returns the same ``(doc_id, n_chunks, n_kept, dedup_text)`` shape as
    :func:`span_dedup`; with ``update_index`` the novel hashes are
    appended (insertInto preserves the bucket spec) so the next batch
    dedups against everything accepted before it.

    Equivalence contract (tested): processing a corpus as doc_id-ordered
    batches through this function yields EXACTLY ``span_dedup`` of the
    whole corpus — the stored set replaces the cross-batch half of the
    keep-first window. Scale: the index side is scanned and probed only
    (bucketed by the join key); per batch the only shuffles are keyed on
    the batch's own chunk hashes and doc ids.
    """
    spark = new_docs.sparkSession
    meta = spark.read.table(f"{table_prefix}_meta").first().asDict()
    span_tokens = meta["span_tokens"]
    spark.catalog.refreshTable(f"{table_prefix}_chunks")
    seen = spark.read.table(f"{table_prefix}_chunks")
    ck = _chunk_keys(new_docs, span_tokens, doc_text, doc_id)
    novel = ck.join(seen, "h", "left_anti")
    kept = (
        _first_occurrence(novel, doc_id, with_chunk=True, keep_first="agg")
        .groupBy(doc_id)
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("dedup_text"),
        )
    )
    toks = tokenize(doc_text)
    base = new_docs.select(
        F.col(doc_id),
        F.ceil(F.size(toks) / F.lit(span_tokens)).cast("long").alias("n_chunks"),
    )
    out = base.join(kept, doc_id, "left").select(
        doc_id,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )
    if update_index:
        out = out.localCheckpoint()  # result first: the append consumes ck
        novel.select("h").distinct().write.insertInto(
            f"{table_prefix}_chunks"
        )
    return out
