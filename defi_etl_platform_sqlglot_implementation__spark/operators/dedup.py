"""Document deduplication operators (scale extension, SURVEY.md §7.2 step 8).

Four strategies over a ``documents(doc_id, text, ...)`` table, each designed
shuffle-aware for 100 TB:

- **exact**: hash-groupBy on the text digest — one shuffle on a 32-byte key.
- **n-gram Jaccard (brute force)**: exploded distinct shingles self-joined on
  the shingle — the *oracle/verification* path; pair blow-up is bounded by
  shingle document frequency, not corpus size, but it is inherently
  quadratic in near-dup cluster size. Not the 100 TB path.
- **MinHash + LSH**: the 100 TB path — per-doc signatures in ONE hash
  aggregate (32 ``min`` aggregations), banded bucket keys, candidates from
  same-bucket grouping (shuffle on band keys only), then exact-Jaccard
  verification restricted to candidates. No all-pairs product anywhere.
- **SimHash**: 32-bit bit-majority fingerprints in one aggregate; near-dup
  pairs by Hamming distance (here via self-join at test scale; at 100 TB
  block on bit-bands of the fingerprint the same way LSH bands work).

Hashing is md5 (Spark built-in, JVM-side, same lowercase hex as DuckDB),
keeping every stage in whole-stage codegen — no Python UDFs anywhere.

Algorithms follow the published literature: minwise hashing (Broder,
"On the resemblance and containment of documents", 1997) with banded LSH
(Indyk & Motwani 1998; the b-band/r-row S-curve analysis as in Mining of
Massive Datasets ch.3), and SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", 2002).
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..sources.bronze import local_frame
from ..worker import install_zip_stamps
from .materialize import disk_ckpt, lazy_persist

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 16  # rows per band = 32/16 = 2


def token_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (split on ' ').

    Shape matters: a ``transform(sequence(...), i -> ...split(text)...)``
    formulation re-evaluates the split *inside the lambda for every
    shingle* (Catalyst inlines lambda bodies), making it O(words²) string
    work per document. Here the token array and its shifted slices are
    zip_with arguments — each evaluated ONCE per row — and the lambda only
    concatenates, so the whole thing is O(words). ``zip_with`` NULL-pads
    the shorter side and ``concat_ws`` drops NULLs, reproducing the
    truncating-slice semantics of the DuckDB oracle (``l[i:i+n-1]``); the
    final slice keeps the max(1, words-n+1) shingle starts.
    """
    assert n == 3, "token_shingles is specialized to 3-grams"
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"array_distinct(slice("
        f"zip_with({toks}, "
        f"         zip_with(slice({toks}, 2, size({toks})), "
        f"                  slice({toks}, 3, size({toks})), "
        f"                  (y, z) -> concat_ws(' ', y, z)), "
        f"         (x, yz) -> concat_ws(' ', x, yz)), "
        f"1, greatest(1, size({toks}) - {n - 1})))"
    )


def positional_token_shingles(text_col: str, n: int = 3) -> Column:
    """NON-distinct word n-gram shingles in document order — the array to
    ``posexplode`` when the shingle's POSITION matters (span alignment,
    substring dedup).  Same tokenization, truncating-slice semantics, and
    O(words) zip_with shape as :func:`token_shingles`; the only
    difference is the missing ``array_distinct`` (positions of repeated
    shingles are distinct even when their text is not)."""
    assert n == 3, "positional_token_shingles is specialized to 3-grams"
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"slice("
        f"zip_with({toks}, "
        f"         zip_with(slice({toks}, 2, size({toks})), "
        f"                  slice({toks}, 3, size({toks})), "
        f"                  (y, z) -> concat_ws(' ', y, z)), "
        f"         (x, yz) -> concat_ws(' ', x, yz)), "
        f"1, greatest(1, size({toks}) - {n - 1}))"
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: digest -> canonical (min) id + copy count."""
    return (
        docs.select(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("content_hash"),
                    F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def _scan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated plan size in bytes (for a parquet scan: the file
    footprint). Reaches through the internal ``_jdf.queryExecution()``
    stats walk — private API, so it returns None instead of raising when a
    Spark upgrade moves it; ``test_dedup.TestSpreadSizeAware`` asserts a
    positive size on a real parquet scan so such an upgrade fails the
    suite LOUDLY instead of silently de-optimizing `_spread`."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # the unknown-stats sentinel is Long.MaxValue-ish: distrust huge values
    return size if 0 < size < (1 << 53) else None


def _spread(docs: DataFrame, id_col: str,
            target_partition_bytes: int = 128 << 20) -> DataFrame:
    """Repartition the corpus by id before CPU-heavy per-row work — but only
    when the input is under-parallel.

    Apply this directly to SCAN-ROOTED inputs (a frame fresh off
    ``spark.read``): the skip test counts scan files anywhere in the plan,
    so a many-file source followed by a shuffle/aggregate — whose output
    AQE may coalesce to few partitions — would wrongly skip the
    repartition even though the stage feeding the expensive work is
    under-parallel. Every call site in this package passes the raw
    documents scan.

    A single-file (or few-file) parquet source arrives as one input split —
    one row group is not splittable — and every downstream map stage
    (shingling, row-local minhashing) would inherit that single task. An
    explicit hash repartition costs one tiny shuffle of the raw text and
    buys full-cluster parallelism for the expensive stages.

    Size-aware, not core-count-aware: the target partition count is
    ``max(defaultParallelism, ceil(input_bytes / target_partition_bytes))``
    so a 100 TB corpus gets ~800k partitions, not 32. And when the source
    is a many-FILE scan with at least that many files, the extra shuffle
    is skipped entirely — downstream stages only need parallelism, not id
    co-location (they shuffle on their own keys later).

    The skip test is ``len(inputFiles()) >= n`` deliberately: probing the
    runtime partition count via ``.rdd`` would materialize upstream
    shuffle stages eagerly under AQE, and the STATIC post-shuffle count
    lies anyway (AQE coalesces small exchanges at runtime — the exact
    under-parallelism this helper exists to prevent). So any non-scan /
    few-file input keeps the explicit repartition, with explicit
    numPartitions so AQE does not coalesce the tiny exchange back to one.
    """
    sess = docs.sparkSession
    n = sess.sparkContext.defaultParallelism
    size = _scan_size_bytes(docs)
    if size is not None:
        n = max(n, min(-(-size // target_partition_bytes), 1_000_000))
    try:
        if len(docs.inputFiles()) >= n:
            return docs
    except Py4JJavaError as exc:  # the JVM could not list the plan's files
        warnings.warn(f"_spread: inputFiles() probe failed, repartitioning: {exc}",
                      RuntimeWarning, stacklevel=2)
    return docs.repartition(n, F.col(id_col))


def _drop_common_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` BEFORE
    any intersection self-join — the one shared implementation of the
    quadratic-core guard (a shingle in d docs contributes O(d²) join
    rows), so a future change to the cap semantics lands everywhere."""
    keep = (sh.groupBy("s").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("s"))
    return sh.join(keep, "s")


def shingle_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct-shingle table."""
    return _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_shingles(text_col, n)).alias("s"),
    )


def _pair_jaccard(sh: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for doc pairs from a shingle table. ``pairs=None`` ->
    all co-shingled pairs (brute force); else verify only the given
    (d1, d2) candidates.

    With candidates, the shingle table is semi-join-reduced to candidate
    docs BEFORE the intersection self-join — the verification cost scales
    with the candidate set, not the corpus (the whole point of LSH).
    Jaccard denominators still use each candidate doc's full shingle count
    (reduction drops docs, not shingles).
    """
    if pairs is not None:
        cand_docs = (
            pairs.select(F.col("d1").alias("doc_id"))
            .union(pairs.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        sh = sh.join(F.broadcast(cand_docs), "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"),
              (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["d1", "d2"])
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
        .select(
            "d1", "d2", "inter", "n1", "n2",
            (F.col("inter").cast("double")
             / (F.col("n1") + F.col("n2") - F.col("inter"))).alias("jaccard"),
        )
    )


# Auto-cap guard for the brute-force Jaccard paths: above this corpus size
# the O(df^2) self-join is never run uncapped unless the caller explicitly
# declares the oracle path. The df cap matches the sf1-stress-proven
# dedup_char_jaccard_capped configuration (39.5 s at 50k docs).
AUTO_CAP_MIN_DOCS = 20_000
AUTO_CAP_DF = 64


def _resolve_df_cap(docs: DataFrame, cap: int | None | str,
                    oracle: bool) -> int | None:
    """Resolve the document-frequency cap contract (ADVICE r4: the cap
    must never silently change the similarity metric, and the size probe
    must not tax callers who already decided):

    - an int cap passes through untouched (no probe);
    - ``oracle=True`` or an explicit ``None`` means UNCAPPED exact
      semantics — the caller took responsibility, no probe runs;
    - the ``"auto"`` default probes the corpus size with a bounded
      ``limit(N+1).count()`` and, above AUTO_CAP_MIN_DOCS, applies
      AUTO_CAP_DF **with a visible UserWarning** — a forgotten parameter
      still cannot launch an uncapped quadratic self-join at scale, but
      the metric change is never silent."""
    if isinstance(cap, int):
        return cap
    if cap is not None and cap != "auto":
        raise ValueError(
            f"df cap must be an int, None (uncapped), or 'auto'; got {cap!r}")
    if oracle or cap is None:
        return None
    if docs.limit(AUTO_CAP_MIN_DOCS + 1).count() > AUTO_CAP_MIN_DOCS:
        warnings.warn(
            f"corpus exceeds {AUTO_CAP_MIN_DOCS} docs: auto-applying a "
            f"shingle document-frequency cap of {AUTO_CAP_DF} — pairs are "
            "Jaccard over the DISCRIMINATIVE shingle set, not exact "
            "Jaccard. Pass an explicit cap, max df=None for uncapped "
            "semantics, or oracle=True for the exact oracle path.",
            UserWarning, stacklevel=3)
        return AUTO_CAP_DF
    return None


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_shingle_df: int | None | str = "auto",
                        oracle: bool = False) -> DataFrame:
    """Brute-force near-dup pairs with exact Jaccard >= threshold.

    ``max_shingle_df`` is the 100 TB guard (SCALE.md): a shingle occurring
    in d documents contributes O(d²) rows to the intersection self-join,
    so one stopword phrase can dominate the whole job. Capping document
    frequency drops those shingles BEFORE the self-join (and from the
    Jaccard denominators — the capped metric is Jaccard over the
    discriminative shingle set). Corpora above ``AUTO_CAP_MIN_DOCS`` are
    auto-capped at ``AUTO_CAP_DF`` unless the caller passes
    ``oracle=True`` — exact uncapped semantics are an explicit opt-in
    (the DuckDB oracle gates declare it), never the silent default at
    scale.
    """
    max_shingle_df = _resolve_df_cap(docs, max_shingle_df, oracle)
    sh = shingle_table(docs, text_col, id_col, n)
    if max_shingle_df is not None:
        sh = _drop_common_shingles(sh, max_shingle_df)
    return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)


def containment_pairs(docs: DataFrame, threshold: float = 0.8, n: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_shingle_df: int | None | str = "auto",
                      oracle: bool = False) -> DataFrame:
    """Asymmetric containment pairs |A∩B| / |A| >= threshold, both
    directions, over distinct n-token shingles — catches a short document
    quoted inside a longer one, which symmetric Jaccard structurally
    cannot (the union is dominated by the container).

    Same quadratic-core guard contract as :func:`ngram_jaccard_pairs`:
    the co-shingled intersection self-join is O(df²) per shingle, so the
    document-frequency cap resolves through :func:`_resolve_df_cap` —
    corpora above ``AUTO_CAP_MIN_DOCS`` auto-cap unless the caller
    declares ``oracle=True`` (the DuckDB gate does).  At scale feed LSH
    candidates through ``_pair_jaccard(sh, pairs=...)`` instead.
    Output: (contained, container, inter, n_contained, containment).
    """
    max_shingle_df = _resolve_df_cap(docs, max_shingle_df, oracle)
    sh = shingle_table(docs, text_col, id_col, n)
    if max_shingle_df is not None:
        sh = _drop_common_shingles(sh, max_shingle_df)
    j = _pair_jaccard(sh)
    fwd = j.select(
        F.col("d1").alias("contained"), F.col("d2").alias("container"),
        F.col("inter").cast("long").alias("inter"),
        F.col("n1").cast("long").alias("n_contained"),
        (F.col("inter").cast("double") / F.col("n1")).alias("containment"),
    )
    rev = j.select(
        F.col("d2").alias("contained"), F.col("d1").alias("container"),
        F.col("inter").cast("long").alias("inter"),
        F.col("n2").cast("long").alias("n_contained"),
        (F.col("inter").cast("double") / F.col("n2")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def _minhash_signatures_expr(
    arr: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES, arr_col: str = "sharr"
) -> DataFrame:
    """Catalyst-expression form of the minhash signature fold — the
    semantic reference the vectorized kernel is pinned against
    (tests/test_xxh.py asserts frame-exact agreement on the real corpus).

    Each shingle is hashed exactly twice (``xxhash64(x)`` and
    ``xxhash64(x, 1)``); the full k-member family derives by cheap mixing
    h_i = a XOR rotate(b, i) — the double-hashing trick, with rotate-XOR
    instead of ``a + i*b`` so ANSI mode can never see an arithmetic
    overflow. The mins are taken with ``array_min`` *inside the row*, so
    signatures cost zero shuffles and zero explode.

    The hash-pair array is projected as its own column; Catalyst's
    CollapseProject leaves multi-referenced non-trivial aliases in place,
    so it is evaluated once per row, not once per signature column.
    Downside (why the kernel form is the default): every higher-order
    function here is CodegenFallback — 32 interpreted passes per row —
    which is the per-task scale-killer VERDICT r11 flagged.
    """
    hp = arr.select(
        "doc_id",
        F.expr(
            f"transform({arr_col}, x -> named_struct('a', xxhash64(x), 'b', xxhash64(x, 1)))"
        ).alias("hp"),
    )
    return hp.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hp, p -> p.a ^ "
                f"(shiftleft(p.b, {i}) | shiftrightunsigned(p.b, {64 - i}))))"
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )


def _minhash_arrow_batches(num_hashes: int, batches):
    """mapInArrow kernel for :func:`minhash_signatures` — BIT-IDENTICAL
    to :func:`_minhash_signatures_expr`, vectorized over the whole batch.

    Per batch: hash every shingle string once with the NumPy xxHash64
    twin (functions/xxh.py — exact-equality-pinned against Spark's
    ``xxhash64``), derive the k lanes by the same XOR-rotate mixing, and
    take per-doc mins in SIGNED int64 order (Spark's ``array_min`` on
    BIGINT) with one ``minimum.reduceat`` per lane over the flat child
    array.  Null/empty shingle arrays produce all-null signature rows,
    and a null shingle element hashes to the seed (42) — both exactly
    what the expression form yields.
    """
    install_zip_stamps()
    import numpy as np
    import pyarrow as pa

    from ..functions.xxh import xxh64_int32, xxh64_utf8

    names = ["doc_id"] + [f"h{i}" for i in range(num_hashes)]
    for batch in batches:
        ids = batch.column(0)
        lst = batch.column(1)
        n = len(lst)
        if n == 0:
            yield pa.RecordBatch.from_arrays(
                [ids] + [pa.nulls(0, pa.int64())] * num_hashes, names)
            continue
        loff = lst.offsets.to_numpy().astype(np.int64)
        sv = lst.values
        if len(sv):
            bufs = sv.buffers()
            odt = np.int64 if pa.types.is_large_string(sv.type) else np.int32
            soff = (np.frombuffer(bufs[1], odt)
                    [sv.offset : sv.offset + len(sv) + 1].astype(np.int64))
            sdata = (np.frombuffer(bufs[2], np.uint8)
                     if bufs[2] is not None else np.empty(0, np.uint8))
            a = xxh64_utf8(sdata, soff)
            if sv.null_count:
                # xxhash64(NULL) returns the seed unchanged
                a[np.asarray(sv.is_null())] = np.uint64(42)
        else:
            a = np.empty(0, np.uint64)
        b = xxh64_int32(1, a)

        lens = loff[1:] - loff[:-1]
        valid = lens > 0  # null lists are zero-width in Arrow
        if lst.null_count:
            valid &= ~np.asarray(lst.is_null())
        starts = loff[:-1][valid]
        end = int(loff[-1])
        null_mask = ~valid
        cols = []
        for i in range(num_hashes):
            lane = a ^ (b if i == 0
                        else (b << np.uint64(i)) | (b >> np.uint64(64 - i)))
            vals = np.zeros(n, np.int64)
            if starts.size:
                vals[valid] = np.minimum.reduceat(
                    lane.view(np.int64)[:end], starts)
            cols.append(pa.array(vals, type=pa.int64(), mask=null_mask))
        yield pa.RecordBatch.from_arrays([ids] + cols, names)


def minhash_signatures(
    arr: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES,
    arr_col: str = "sharr", vectorized: bool = True
) -> DataFrame:
    """Row-local minhash signatures h0..h{k-1} from per-doc shingle arrays.

    Signatures cost zero shuffles and zero explode — at 100 TB the
    signature stage is pure map-side CPU.  The default path runs that CPU
    as ONE Arrow kernel per batch (``mapInArrow`` + the NumPy xxHash64
    twin) instead of 32 interpreted higher-order-function passes per row:
    the expression form's ``transform``/``array_min`` chain is
    CodegenFallback, and its per-element interpreted evaluation was the
    dominant cost of every LSH gate (VERDICT r11 #3).  Values are
    BIT-IDENTICAL by construction and pinned by tests/test_xxh.py, so
    LSH candidate sets — and every verified near-dup result downstream —
    are unchanged.

    ``vectorized=False`` selects the Catalyst-expression reference form.
    """
    if not vectorized:
        return _minhash_signatures_expr(arr, num_hashes, arr_col)
    import functools

    from pyspark.sql.types import LongType

    src = arr.select("doc_id", arr_col)
    schema = StructType(
        [src.schema[0]]
        + [StructField(f"h{i}", LongType(), True) for i in range(num_hashes)]
    )
    return src.mapInArrow(
        functools.partial(_minhash_arrow_batches, num_hashes), schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidates, then exact-Jaccard verification.

    Output schema matches :func:`ngram_jaccard_pairs`; with b=16 bands of
    r=2 rows, a pair at Jaccard j survives with p = 1-(1-j^2)^16 (>0.99997
    at j=0.8), so at high thresholds the verified output equals the
    brute-force result with overwhelming probability while shuffling only
    (band, bucket) keys — the 100 TB shape.
    """
    rows = num_hashes // bands
    # per-doc distinct-shingle arrays, persisted: they feed the signature
    # explode AND both sides of candidate verification (3 plan branches —
    # uncached, Spark would re-run the shingling per branch; at 100 TB
    # DISK_ONLY spills instead of recomputing the corpus scan).
    arr = lazy_persist(_spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        token_shingles(text_col, n).alias("sharr"),
    ))
    sig = minhash_signatures(arr, num_hashes)

    band_cols = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias("bucket"),
        )
        for b in range(bands)
    ])
    # persisted: the banded table is both sides of the bucket self-join —
    # uncached, the minhash signature map stage would run once per side.
    banded = lazy_persist(sig.select("doc_id", F.explode(band_cols).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ))
    cand = lazy_persist(
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.bucket") == F.col("b.bucket"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # Exact-Jaccard verification per candidate pair via the cached shingle
    # arrays: two equi-joins on doc id + array_intersect — no shingle
    # self-join, cost linear in candidates (shuffle keys are doc ids).
    a = arr.select(F.col("doc_id").alias("d1"), F.col("sharr").alias("_sa"))
    b = arr.select(F.col("doc_id").alias("d2"), F.col("sharr").alias("_sb"))
    verified = (
        cand.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1", "d2",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("inter"),
            F.size("_sa").cast("long").alias("n1"),
            F.size("_sb").cast("long").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "d1", "d2", "inter", "n1", "n2", "jaccard"
    )


def char_shingles(text_col: str, n: int = 5) -> "Column":
    """Distinct character n-gram shingles (classic near-dup alternative to
    word shingles; robust to tokenization differences). ``substring`` is a
    cheap O(n) slice per position — no quadratic re-evaluation concern."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(1, length({text_col}) - {n - 1})), "
        f"i -> substring({text_col}, i, {n})))"
    )


def char_jaccard_pairs(docs: DataFrame, threshold: float = 0.7, n: int = 5,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_chargram_df: int | None | str = "auto",
                       oracle: bool = False) -> DataFrame:
    """Brute-force near-dup pairs on character n-gram Jaccard — same
    self-join shape as :func:`ngram_jaccard_pairs` with char shingles.

    ``max_chargram_df`` is the same O(df²) guard as ``max_shingle_df``
    there, and matters MORE here: char n-grams collide across documents
    that share no word shingles (an sf1 stress corpus whose copies
    prefix every token still shares most interior 5-grams — ~100× pair
    blow-up measured), so the uncapped brute path is strictly an oracle
    path. Capping drops over-common grams before the self-join and from
    the Jaccard denominators (Jaccard over the discriminative gram set).
    Above ``AUTO_CAP_MIN_DOCS`` documents the cap defaults to
    ``AUTO_CAP_DF`` unless ``oracle=True`` is passed explicitly."""
    max_chargram_df = _resolve_df_cap(docs, max_chargram_df, oracle)
    sh = _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(char_shingles(text_col, n)).alias("s"),
    )
    if max_chargram_df is not None:
        sh = _drop_common_shingles(sh, max_chargram_df)
    return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 32,
                       weighted: bool = False) -> DataFrame:
    """32-bit SimHash per doc from distinct tokens, in one aggregate.

    token value = first 8 hex chars of md5 (32-bit uint); bit j of the
    signature is the sign of sum over tokens of (2*bit_j(token) - 1).
    Arithmetic is integer-only and phrased as (h div 2^j) % 2 so a SQL
    oracle can reproduce it verbatim.

    ``weighted=True`` is Charikar's original weighted form with term
    frequency as the weight: every token OCCURRENCE contributes ±1 (an
    integer-exact way to weight each distinct token by its count), making
    repeated terms dominate the fingerprint.
    """
    tok_arr = F.split(F.col(text_col), " ")
    if not weighted:
        tok_arr = F.array_distinct(tok_arr)
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tok_arr).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    sums = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(((F.col("h") / F.lit(2**j)).cast("long") % 2) * 2 - 1).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = sums.select(
        "doc_id",
        sum(
            [(F.col(f"s{j}") >= 0).cast("long") * F.lit(2**j) for j in range(bits)],
            F.lit(0),
        ).alias("simhash"),
    )
    return sig


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, text_col: str = "text",
                  id_col: str = "doc_id", blocked: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    ``blocked=True`` (the scale shape): split the 32-bit signature into
    ``max_hamming + 1`` bands; by pigeonhole, any pair within Hamming
    distance ``max_hamming`` agrees on at least one full band, so joining
    on (band_idx, band_value) has *exact* recall — identical output to the
    all-pairs cross join, with shuffle volume docs x bands instead of
    docs². ``blocked=False`` keeps the literal cross join for comparison.
    """
    sig = simhash_signatures(docs, text_col, id_col)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    if blocked:
        n_bands = max_hamming + 1
        width = 32 // n_bands  # 8-bit bands for the default max_hamming=3
        bands = F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("bval"),
            )
            for i in range(n_bands)
        ])
        banded = sig.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
            "doc_id", "simhash",
            F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"),
        )
        cand = (
            banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bval") == F.col("b.bval"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                ham.cast("long").alias("hamming"),
            )
            .distinct()
        )
        return cand.filter(F.col("hamming") <= max_hamming)

    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _driver_union_find(rows) -> dict:
    """Min-label union-find over an in-driver edge list — the small-graph
    fast path of :func:`connected_components`.  Roots are kept at the
    component MINIMUM (unions attach the larger root under the smaller),
    so after full path resolution every node's root IS the min reachable
    id — identical semantics to the distributed min-label propagation.
    Path compression keeps it near-linear in edges."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra            # min stays the root
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 25,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (node, cluster_id).

    ``cluster_id`` is the minimum node id reachable in the component — the
    step that turns pairwise dedup output into actionable clusters (keep
    the canonical doc, drop the rest). Plain min-label propagation: each
    round pushes every node's current label across the symmetrized edges
    and takes the min. Rounds needed = component diameter; near-dup
    components are cliquish (diameter 1-3), so this converges in 2-4
    rounds even at corpus scale — the pathological long-path graph that
    favors pointer-jumping variants does not arise from similarity edges.

    ADAPTIVE small-graph fast path (VERDICT r8 #1): after the one-time
    edge materialization, if the symmetrized edge list holds at most
    ``driver_max_edges`` rows it is pulled to the driver and solved with
    min-label union-find — one cheap probe job + one ``local_frame``
    instead of per-batch checkpoint + convergence-probe driver jobs
    whose ~constant scheduling cost dominated small-input latency
    (cross_modal_dedup's ~4x composition constant was exactly this).
    Same spirit as AQE's runtime re-plan / the broadcast-join threshold:
    the DATA decides, the distributed path below stays the contract for
    large graphs (pass ``driver_max_edges=0`` to force it).  The edge
    list is fetched via Arrow (``toPandas`` on the two columns, Arrow
    conversion force-enabled for the call): 2M (long, long) edges land
    as ~32 MB of columnar buffers, NOT millions of driver-side Row
    objects (ADVICE r9 #1 measured the Row form at hundreds of MB
    transient heap); the union-find dicts over Python ints add roughly
    ~200 MB at the 2M default — bounded, and well under the 24g driver
    this repo sizes for, but callers on small drivers should lower
    ``driver_max_edges`` accordingly.

    NOTE on ``max_iter``: it applies ONLY to the distributed path below
    — the fast path always fully converges (union-find has no round
    structure to truncate), so a caller passing a small ``max_iter`` to
    deliberately truncate must also pass ``driver_max_edges=0``
    (ADVICE r9 #2).

    The distributed path: each round is one shuffle (join on the edge
    endpoint) + one min aggregate, both keyed on node id.  Rounds run in
    BATCHES per materialization on a 1, 1, 2, 2, ... schedule: the
    checkpoint (lineage truncation) and the convergence probe are
    per-batch driver jobs whose ~constant cost dominated small-input
    latency.  The two single-round batches up front let the dominant
    diameter-1 graph (cliquish near-dup components) stop at the provable
    minimum — 2 rounds + 2 probes — while deeper graphs amortize probes
    two rounds per batch from the third batch on.  Batching is sound
    because labels are monotone non-increasing — the label sum is
    stationary across a batch iff NO round inside it changed anything,
    so the detected fixpoint is identical.  ``max_iter`` caps total
    PROPAGATION ROUNDS (the documented unit — the final batch shrinks
    to the remaining budget), not batches.  Convergence = the
    (monotonically decreasing, non-negative) label sum going stationary
    — one scalar agg per batch, no row-diff join.  Exhausting
    ``max_iter`` without stationarity warns loudly: a truncated
    labeling must not masquerade as converged output.
    """
    sym = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # Materialize the symmetrized edges ONCE: sym re-evaluates on every
    # propagation round (the per-round join) plus the node init, so an
    # expensive upstream — the ~10^8-cosine candidate join feeding
    # dedup_embedding_canonical — would otherwise recompute diameter+1
    # times. Edge lists are (long, long) rows, tiny next to their
    # producing join, so this is safe to hold even at cluster scale.
    # The init frame stays LAZY: its lineage is one distinct over the
    # checkpointed edges, and the first batch's checkpoint captures it.
    sym = disk_ckpt(sym)
    if driver_max_edges:
        # one probe job over the checkpointed blocks; limit+1 rows decide
        # small-vs-large without a separate count.  Arrow transfer keeps
        # the probe columnar (two flat buffers) instead of materializing
        # Row objects; the conf flip is restored immediately so callers'
        # sessions are not left with a changed Arrow setting.
        spark = pairs.sparkSession
        arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
        arrow_old = spark.conf.get(arrow_key, "false")
        spark.conf.set(arrow_key, "true")
        try:
            probe = sym.limit(driver_max_edges + 1).toPandas()
        finally:
            spark.conf.set(arrow_key, arrow_old)
        if len(probe) <= driver_max_edges:
            # .tolist() converts int64 buffers to plain Python ints once
            # (dict keys / local_frame need Python scalars)
            labels = _driver_union_find(
                zip(probe["a"].tolist(), probe["b"].tolist()))
            node_type = sym.schema["a"].dataType
            out_schema = StructType([
                StructField("node", node_type),
                StructField("cluster_id", node_type),
            ])
            return local_frame(spark, sorted(labels.items()), out_schema)
    cur = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    prev_total = None
    rounds_left = max_iter
    batch_no = 0
    converged = False
    while rounds_left > 0:
        # 1, 1, 2, 2, ... — single-round batches first (fast stop for
        # diameter-1 graphs), probe amortization afterwards.
        batch = min(1 if batch_no < 2 else 2, rounds_left)
        batch_no += 1
        rounds_left -= batch
        for _ in range(batch):
            pushed = sym.join(cur, sym.b == cur.node).select(
                F.col("a").alias("node"), F.col("lbl")
            )
            cur = (
                cur.select("node", "lbl")
                .unionAll(pushed)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
        cur = disk_ckpt(cur)
        total = cur.agg(F.sum("lbl")).first()[0]
        if total == prev_total:
            converged = True
            break
        prev_total = total
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} propagation "
            "rounds without the label sum going stationary — the returned "
            "cluster ids may be UNCONVERGED (some components split). Raise "
            "max_iter for graphs with diameter > max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return cur.select(F.col("node"), F.col("lbl").alias("cluster_id"))
