"""Document/query encoders (SURVEY §2.8).

The reference exposes one extension point — ``encode(texts) -> float32[n, dim]``
(`embeddings/encoder.py:1-8`) — with four implementations. Spark-first
re-expression:

* :class:`HashingEncoder` — the reference's hashing fallback
  (`encoder.py:90-101`): token -> ``hash(tok) % dim`` bucket counts, L2
  normalized. Here it is a *pure Catalyst expression pipeline* (explode ->
  pmod(stable_hash) -> pivot-free dense assembly via map lookup) — no Python
  at all, fully distributed, deterministic (fixes the reference's salted
  ``hash()`` nondeterminism, SURVEY §7 hard-part (a)).

* :class:`TfIdfEncoder` — the reference's ``DummyEncoder`` TF-IDF mode
  (`encoder.py:78-89,103-116`): Spark ML ``CountVectorizer + IDF``. The
  reference *implicitly* fits its vocabulary on whichever corpus hits
  ``encode`` first (`encoder.py:104-109` — a fit-on-first-call trap); we make
  fit explicit: always fit on documents, transform both docs and queries
  (deviation documented in SURVEY §2.8/§7).

* Transformer encoders (SentenceTransformer / BERT, `encoder.py:15-68`) —
  model-inference pandas UDF; the model libraries are not available in this
  environment, so :func:`transformer_encode_udf` is real plumbing
  (iterator-of-series pandas UDF, per-executor model cache) around a stubbed
  model loader that raises ``NotImplementedError`` unless a loader is
  injected.

At 100 TB the encode is a single narrow map stage: no shuffle for
HashingEncoder (explode + re-group keyed by doc id shuffles only token
buckets; see class docstring for the chosen no-shuffle formulation).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash64
from ..functions.quantize import quantize
from ..functions.text import py_tokenize, tokenize
from ..functions.vectors import l2_normalize, normalize_rows


class HashingEncoder:
    """Deterministic hashing-TF encoder, L2-normalized, dim-d float32.

    Semantics (reference `embeddings/encoder.py:90-101`): for each whitespace
    token, increment bucket ``stable_hash64(token) % dim``; L2-normalize the
    resulting count vector; zero vector stays zero.

    Formulated *without a shuffle*: tokens are exploded and re-assembled
    per-row using higher-order functions only (``transform`` over the token
    array -> bucket array -> dense counts via ``aggregate``), so encoding N
    docs is one narrow stage regardless of N — the right shape for a 100 TB
    corpus scan.
    """

    def __init__(self, dim: int = 512, out_dtype: str = "float"):
        self.dim = dim
        self.out_dtype = out_dtype
        self.model_name = "hashing"

    def encode_expr(self, text: Column | str) -> Column:
        buckets = F.transform(
            tokenize(text), lambda t: F.pmod(stable_hash64(t), F.lit(self.dim))
        )
        # Dense counts: for each position i in [0, dim), count tokens whose
        # bucket == i. aggregate over buckets builds the histogram in one
        # pass per row without leaving codegen.
        counts = F.aggregate(
            buckets,
            F.array_repeat(F.lit(0.0), self.dim),
            lambda acc, b: F.transform(
                acc, lambda x, i: F.when(i == b.cast("int"), x + F.lit(1.0)).otherwise(x)
            ),
        )
        return l2_normalize(counts, out_dtype=self.out_dtype)

    def encode(self, df: DataFrame, text_col: str = "text", out_col: str = "vec") -> DataFrame:
        return df.withColumn(out_col, self.encode_expr(text_col))


class HashingEncoderFast:
    """Same semantics as :class:`HashingEncoder`, scored in numpy per Arrow
    batch (``mapInPandas``) — the throughput path for bulk index builds.

    The expression form above is O(dim * n_tokens) per row inside codegen;
    for dim=512 and long docs the vectorized histogram (np.bincount) is the
    faster physical plan while remaining a narrow map stage.
    """

    def __init__(self, dim: int = 512, out_dtype: str = "float"):
        self.dim = dim
        self.out_dtype = out_dtype
        self.model_name = "hashing"

    def encode(self, df: DataFrame, text_col: str = "text", out_col: str = "vec") -> DataFrame:
        import numpy as np

        dim = self.dim
        np_dtype = np.float32 if self.out_dtype == "float" else np.float64
        fields = [f for f in df.schema.fields]
        out_schema = ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
            + [f"`{out_col}` array<{self.out_dtype}>"]
        )

        def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            from ..functions.hashing import stable_hash64_py

            # token -> bucket memo: natural-language corpora reuse a small
            # vocabulary, so one digest per *unique* token per worker beats
            # one per token occurrence by 10-100x.
            bucket_of: dict[str, int] = {}

            def bucket(tok: str) -> int:
                b = bucket_of.get(tok)
                if b is None:
                    b = stable_hash64_py(tok) % dim
                    if len(bucket_of) < 2_000_000:  # bound worker memory
                        bucket_of[tok] = b
                return b

            # Per-row memoized loop, deliberately NOT batch-vectorized: a
            # factorize-the-whole-batch + flat-bincount variant was built
            # and interleave-benchmarked against this form on warm workers —
            # it lost at BOTH 100k (1.8 vs 2.8 s) and 1M docs (6.2 vs
            # 10.9 s): hashing every token occurrence into a batch-wide
            # object array costs more than warm memo dict probes, and the
            # batch histogram matrix is cache-hostile next to the per-row
            # 512-bin bincount. The r03 "encode regression" was per-task
            # import waves (fixed by worker_daemon preload), not this loop.
            for pdf in batches:
                vecs = []
                for txt in pdf[text_col].astype(str):
                    # py_tokenize == the expression face's tokenize()
                    # separator class (Java \s+); str.split() would
                    # diverge on Unicode whitespace (r8 ADVICE)
                    toks = py_tokenize(txt)
                    if toks:
                        idx = np.fromiter(
                            (bucket(t) for t in toks), dtype=np.int64, count=len(toks)
                        )
                        v = np.bincount(idx, minlength=dim).astype(np.float64)
                        nrm = np.linalg.norm(v)
                        if nrm > 0:
                            v = v / nrm
                    else:
                        v = np.zeros(dim, dtype=np.float64)
                    vecs.append(v.astype(np_dtype))
                pdf = pdf.copy()
                pdf[out_col] = vecs
                yield pdf

        return df.mapInPandas(enc, schema=out_schema)


class TfIdfEncoder:
    """TF-IDF encoder via Spark ML (reference `encoder.py:78-89,103-116`).

    Explicit fit/transform: ``fit`` on the document corpus, ``transform`` any
    DataFrame afterwards. Output is a dense L2-normalized ``array<float>`` of
    length ``dim`` (vocabulary truncated to the top-``dim`` terms by corpus
    frequency, matching sklearn ``TfidfVectorizer(max_features=dim)``).
    """

    def __init__(self, dim: int = 512):
        self.dim = dim
        self.model_name = "tfidf"
        self._model = None
        self._fit_text_col = "text"

    def fit(self, docs: DataFrame, text_col: str = "text") -> "TfIdfEncoder":
        self._fit_text_col = text_col
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import IDF, CountVectorizer, RegexTokenizer

        tok = RegexTokenizer(
            inputCol=text_col, outputCol="__tokens", pattern=r"\s+", toLowercase=False
        )
        cv = CountVectorizer(inputCol="__tokens", outputCol="__tf", vocabSize=self.dim)
        idf = IDF(inputCol="__tf", outputCol="__tfidf")
        self._model = Pipeline(stages=[tok, cv, idf]).fit(docs)
        return self

    def encode(self, df: DataFrame, text_col: str = "text", out_col: str = "vec") -> DataFrame:
        if self._model is None:
            raise RuntimeError("TfIdfEncoder.fit(docs) must run before encode()")
        from pyspark.ml.functions import vector_to_array

        added = None
        if text_col != self._fit_text_col:
            # transform under the fitted input column regardless of the
            # caller's text column name (e.g. queries use "query")
            df = df.withColumn(self._fit_text_col, F.col(text_col))
            added = self._fit_text_col
        out = self._model.transform(df)
        out = out.withColumn(out_col, l2_normalize(vector_to_array("__tfidf")))
        out = out.drop("__tokens", "__tf", "__tfidf")
        return out.drop(added) if added else out

    def save(self, path: str) -> None:
        """Persist the fitted vocabulary+IDF pipeline (Spark ML persistence)
        so queries can be encoded later under the SAME fitted vocabulary —
        the durable resolution of the reference's fit-on-first-call trap."""
        if self._model is None:
            raise RuntimeError("fit before save")
        self._model.write().overwrite().save(path)

    @classmethod
    def load(cls, path: str, dim: int = 512) -> "TfIdfEncoder":
        from pyspark.ml import PipelineModel

        enc = cls(dim)
        enc._model = PipelineModel.load(path)
        return enc


def pinned_vocabulary(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = 256
) -> DataFrame:
    """``(tok, idf)`` — deterministic top-``dim`` vocabulary by
    (document-frequency DESC, term ASC).

    Reference parity: sklearn ``TfidfVectorizer(max_features=dim)`` selects
    the top terms by corpus frequency (`embeddings/encoder.py:78-89`);
    Spark ML's CountVectorizer breaks frequency ties in engine-internal
    order, which is why the Spark-ML path can never be oracle-checked.  This
    pinned selection is a ``TakeOrderedAndProject`` (orderBy + limit — a
    distributed partial top-k, no global-sort window), so it scales.

    idf is the rational form ``(1 + N) / (1 + df)`` — strictly
    monotone-decreasing in df like the sklearn log idf, but free of
    transcendentals (the cross-engine determinism rules ban ln/exp/pow;
    division is IEEE-exact in every engine).
    """
    dtok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    )
    dfreq = dtok.distinct().groupBy("tok").agg(F.count("*").alias("df"))
    n1 = docs.select((F.count("*") + F.lit(1)).cast("double").alias("_n1"))
    return (
        dfreq.orderBy(F.desc("df"), F.asc("tok"))
        .limit(dim)
        .crossJoin(F.broadcast(n1))
        .select(
            "tok",
            (F.col("_n1") / (F.lit(1.0) + F.col("df").cast("double"))).alias("idf"),
        )
    )


def tfidf_weight_rows(
    df_in: DataFrame, vocab: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Sparse TF-IDF rows ``(id, tok, w)`` with ``w = tf * idf`` for vocabulary
    terms only — the broadcast-joined sparse representation (never a dense
    dim-wide array), so weighting N docs is a narrow map + one small
    broadcast, no shuffle beyond the per-(id, tok) count."""
    tok = df_in.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    )
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").cast("double").alias("c"))
    return tf.join(F.broadcast(vocab), "tok").select(
        id_col, "tok", (F.col("c") * F.col("idf")).alias("w")
    )


def _exact_sum_sq(col: str) -> Column:
    # DECIMAL summation is exact and order-insensitive (the catalog's
    # cross-engine determinism rule) — double summation order differs
    # between engines and would break the value hash.
    return (
        F.sum((F.col(col) * F.col(col)).cast("decimal(38,12)"))
        .cast("double")
    )


def pinned_tfidf_topk(
    docs: DataFrame,
    queries: DataFrame,
    vocab: DataFrame,
    k: int = 5,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    q_text: str = "text",
    q_id: str = "qid",
) -> DataFrame:
    """Exact cosine top-k retrieval under a pinned TF-IDF vocabulary:
    ``(qid, docid, rank, score)``.

    Fully sparse plan: weights are (id, tok, w) rows, the query-document
    dot product is an equi-join on tok (only vocabulary terms survive, so
    candidates are pairs sharing >= 1 vocab term — identical row sets in
    any engine), and dots/norms are exact DECIMAL sums so the value hash is
    engine-portable. One shuffle keyed by tok, one by (qid, docid)."""
    from pyspark.sql import Window

    dw = tfidf_weight_rows(docs, vocab, doc_text, doc_id).withColumnRenamed(
        doc_id, "docid"
    )
    qw = tfidf_weight_rows(queries, vocab, q_text, q_id)
    dnorm = dw.groupBy("docid").agg(F.sqrt(_exact_sum_sq("w")).alias("_dn"))
    qnorm = qw.groupBy(q_id).agg(F.sqrt(_exact_sum_sq("w")).alias("_qn"))
    dots = (
        qw.select(q_id, "tok", F.col("w").alias("_wq"))
        .join(dw.select("docid", "tok", F.col("w").alias("_wd")), "tok")
        .groupBy(q_id, "docid")
        .agg(F.sum((F.col("_wq") * F.col("_wd")).cast("decimal(38,12)")).cast("double").alias("_dot"))
    )
    scored = (
        dots.join(qnorm, q_id)
        .join(dnorm, "docid")
        .withColumn("score", F.col("_dot") / (F.col("_qn") * F.col("_dn")))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, "docid", "rank", quantize(F.col("score"), 4).alias("score"))
    )


def transformer_encode_udf(
    model_name: str,
    dim: int,
    model_loader: Callable[[str], object] | None = None,
):
    """Pandas-UDF scaffold for transformer encoders (SentenceTransformer/BERT,
    reference `embeddings/encoder.py:15-68`, `real_encoder.py:11-72`).

    Iterator-of-series form so the model loads once per executor process, not
    per batch. The actual model libraries (torch/transformers) are not
    installed in this environment; inject ``model_loader`` to use a real
    model, otherwise calling the UDF raises ``NotImplementedError`` — the
    Spark-side plumbing (Arrow batching, schema, caching) is real and tested
    with a fake loader in tests.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def encode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        if model_loader is None:
            raise NotImplementedError(
                f"transformer encoder '{model_name}' requires torch/transformers; "
                "inject model_loader= to enable"
            )
        model = model_loader(model_name)
        for texts in batches:
            vecs = model.encode(texts.tolist())  # (n, dim) float32
            yield pd.Series(list(vecs))

    return encode_udf


def transformer_predict_batch_udf(
    model_name: str,
    dim: int,
    model_loader: Callable[[str], object] | None = None,
    batch_size: int = 64,
):
    """Spark ML ``predict_batch_udf`` form of the transformer encoder
    (SURVEY §2.8 maps SentenceTransformerEncoder to exactly this API):
    the model loads once per python worker via make_predict_fn, batches are
    handed over as numpy arrays sized ``batch_size``. Same injectable-loader
    stubbing as :func:`transformer_encode_udf`.
    """
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import ArrayType, FloatType

    def make_predict_fn():
        if model_loader is None:
            raise NotImplementedError(
                f"transformer encoder '{model_name}' requires torch/transformers; "
                "inject model_loader= to enable"
            )
        model = model_loader(model_name)

        def predict(texts):
            return model.encode([str(t) for t in texts])  # (n, dim) float32

        return predict

    return predict_batch_udf(
        make_predict_fn,
        return_type=ArrayType(FloatType()),
        batch_size=batch_size,
    )


def numpy_mini_transformer_loader(
    model_name: str,
    dim: int = 64,
    n_heads: int = 4,
    max_len: int = 64,
    n_buckets: int = 4096,
    seed: int = 17,
):
    """Deterministic pure-numpy mini-transformer — a REAL tensor model for
    the transformer UDF slots in an image without torch/transformers.

    Not a stub: hashed token embeddings + sinusoidal positions, one
    multi-head self-attention block (scaled dot-product, pad keys masked
    to -inf so softmax weights are exactly 0), residual + layernorm, a
    ReLU FFN block, then attention-mask mean pooling and L2
    normalization — the same computation graph shape as the reference's
    BERT mean-pool encoder (`encoder.py:43-49`), with seeded random
    weights instead of pretrained ones. Conforms to the loader protocol
    (``.encode(texts) -> (n, dim) float32``), so it runs through the SAME
    iterator-pandas-UDF / predict_batch_udf plumbing as a real model.

    Deterministic (seeded weights, pinned tokenizer hash) and
    batch-composition independent: pad positions carry exactly zero
    attention weight and are excluded from pooling, so a text's vector
    does not depend on what it was batched with — tested under
    repartitioning.
    """
    import numpy as np

    from ..functions.hashing import stable_hash64_py

    if dim % n_heads:
        raise ValueError("dim must be divisible by n_heads")

    class _MiniTransformer:
        def __init__(self):
            rng = np.random.default_rng(seed)
            s = 1.0 / np.sqrt(dim)
            self.We = rng.standard_normal((n_buckets, dim)) * s
            self.Wq = rng.standard_normal((dim, dim)) * s
            self.Wk = rng.standard_normal((dim, dim)) * s
            self.Wv = rng.standard_normal((dim, dim)) * s
            self.Wo = rng.standard_normal((dim, dim)) * s
            self.W1 = rng.standard_normal((dim, 2 * dim)) * s
            self.W2 = rng.standard_normal((2 * dim, dim)) * s
            pos = np.arange(max_len)[:, None]
            j = np.arange(dim)[None, :]
            angle = pos / np.power(10000.0, (2 * (j // 2)) / dim)
            self.pos = np.where(j % 2 == 0, np.sin(angle), np.cos(angle))

        @staticmethod
        def _ln(x):
            mu = x.mean(axis=-1, keepdims=True)
            sd = x.std(axis=-1, keepdims=True)
            return (x - mu) / (sd + 1e-6)

        def encode(self, texts):
            n = len(texts)
            ids = np.zeros((n, max_len), dtype=np.int64)
            mask = np.zeros((n, max_len), dtype=np.float64)
            for i, t in enumerate(texts):
                toks = str(t).split()[:max_len]
                for p, tok in enumerate(toks):
                    ids[i, p] = stable_hash64_py(tok) % n_buckets
                mask[i, : len(toks)] = 1.0
            L = max_len
            X = self._ln(self.We[ids] + self.pos[None, :L])
            hd = dim // n_heads
            Q = (X @ self.Wq).reshape(n, L, n_heads, hd).transpose(0, 2, 1, 3)
            K = (X @ self.Wk).reshape(n, L, n_heads, hd).transpose(0, 2, 1, 3)
            V = (X @ self.Wv).reshape(n, L, n_heads, hd).transpose(0, 2, 1, 3)
            scores = Q @ K.transpose(0, 1, 3, 2) / np.sqrt(hd)  # (n,h,L,L)
            # pad KEYS get weight exactly 0 (exp(-inf)); pad QUERY rows
            # produce junk but are dropped by the pooling mask below
            scores = np.where(mask[:, None, None, :] > 0, scores, -np.inf)
            scores = scores - scores.max(axis=-1, keepdims=True)
            w = np.exp(scores)
            att = w / w.sum(axis=-1, keepdims=True)
            ctx = (att @ V).transpose(0, 2, 1, 3).reshape(n, L, dim)
            X = self._ln(X + ctx @ self.Wo)
            X = self._ln(X + np.maximum(X @ self.W1, 0.0) @ self.W2)
            m = mask[:, :, None]
            pooled = (X * m).sum(axis=1) / np.maximum(m.sum(axis=1), 1e-9)
            return normalize_rows(pooled).astype(np.float32)

    return _MiniTransformer()


def default_model_loader(model_name: str):
    """Real transformer loader, used when the model libraries exist on the
    executors (reference `real_encoder.py:11-72`: SentenceTransformer first,
    HF transformers mean-pooling fallback). Raises ImportError in images
    without torch — callers inject a fake loader for tests there.

    Runs INSIDE the pandas UDF on the executor: imports happen per python
    worker, once, at first batch."""
    try:
        from sentence_transformers import SentenceTransformer

        return SentenceTransformer(model_name)
    except ImportError:
        pass
    try:
        import numpy as np
        import torch
        from transformers import AutoModel, AutoTokenizer

        class _MeanPoolModel:
            """BERT-style mean pooling over the last hidden state with the
            attention mask (reference `encoder.py:43-49`)."""

            def __init__(self, name: str):
                self.tok = AutoTokenizer.from_pretrained(name)
                self.model = AutoModel.from_pretrained(name)
                self.model.eval()

            def encode(self, texts):
                with torch.no_grad():
                    enc = self.tok(
                        list(texts), padding=True, truncation=True, return_tensors="pt"
                    )
                    out = self.model(**enc).last_hidden_state  # (n, L, d)
                    mask = enc["attention_mask"].unsqueeze(-1).float()
                    summed = (out * mask).sum(dim=1)
                    counts = mask.sum(dim=1).clamp(min=1e-9)
                    return (summed / counts).numpy().astype(np.float32)

        return _MeanPoolModel(model_name)
    except ImportError as e:
        raise ImportError(
            "transformer encoders need sentence_transformers or "
            "transformers+torch on the executors"
        ) from e


class TransformerEncoder:
    """Model-inference encoder (reference SentenceTransformer/BertEncoder,
    `encoder.py:15-68`): iterator pandas UDF, model loaded once per python
    worker, Arrow-batched transfer. Uses :func:`default_model_loader` unless
    a loader is injected (tests use a deterministic fake)."""

    def __init__(self, model_name: str = "all-MiniLM-L6-v2", dim: int = 384, model_loader=None):
        self.model_name = model_name
        self.dim = dim
        self.model_loader = model_loader if model_loader is not None else default_model_loader

    def encode(self, df: DataFrame, text_col: str = "text", out_col: str = "vec") -> DataFrame:
        udf = transformer_encode_udf(self.model_name, self.dim, self.model_loader)
        return df.withColumn(out_col, udf(text_col))


def get_encoder(name: str, dim: int = 512):
    """Encoder registry mirroring the reference's model selection
    (`auto_run_tests.py:272-288`).

    ``hashing`` dispatches between two value-identical physical forms
    (same bucket semantics, both pinned to the python reference in
    tests): the expression tree for small dims — whole-stage codegen,
    zero python — and the Arrow batch kernel beyond ``dim >= 128``, where
    Janino compilation of a dim-element array expression dominates
    (measured: one H3 grid config 15 s at dim=64 vs 46 s at dim=256 vs
    minutes at 512, almost all of it codegen).  Callers that need one
    specific form construct it directly (the oracle-checked catalog
    builders use the expression form explicitly)."""
    if name in ("hashing", "dummy"):
        return HashingEncoderFast(dim) if dim >= 128 else HashingEncoder(dim)
    if name == "hashing_fast":
        return HashingEncoderFast(dim)
    if name == "tfidf":
        return TfIdfEncoder(dim)
    if name in ("sentence_transformer", "bert"):
        model = "all-MiniLM-L6-v2" if name == "sentence_transformer" else "bert-base-uncased"
        return TransformerEncoder(model, dim)
    if name == "numpy_mini":
        # real-tensor-math transformer that needs no model libraries —
        # exercises the full transformer UDF path in any image
        return TransformerEncoder(
            "numpy-mini", 64,
            model_loader=lambda n: numpy_mini_transformer_loader(n, dim=64),
        )
    raise ValueError(f"unknown encoder: {name!r}")
