"""Text deduplication at training-data scale.

Four tiers, cheapest-first (the order a 100 TB pipeline actually runs them):

1. **Exact** — md5 of normalized text, keep-first. One shuffle on a 128-bit
   key; no skew (hash keys are uniform).
2. **SimHash** — 64-bit near-dup fingerprint; equal fingerprints (or banded
   prefixes) are candidates. One groupBy on a long.
3. **MinHash + LSH** — shingle → k min-hashes → b bands; docs sharing a band
   bucket are candidates; verify candidates with exact Jaccard. The
   band-bucket join replaces the O(n²) all-pairs similarity join.
4. **Embedding cosine** — see ext/similarity.py.

Everything is built-in functions + higher-order array ops: no Python UDFs,
no driver-side collection, all joins on hashed (uniform) keys. The reference
has only tier 1's semantics (SURVEY §2.4 A1-A3); tiers 2-4 are the
driver-mandated north-star extensions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..operators.dedup import dedupe_keep_first
from ..operators.partitioning import spread
from ..planmode import checkpoint


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tier 1: exact-content dedup, deterministic keep-first (min id).

    Hash first so the shuffle key is 32 hex chars, not the document body —
    at 100 TB you never shuffle full text to compare it.
    """
    hashed = df.withColumn("__h", F.md5(F.col(text_col)))
    return dedupe_keep_first(hashed, ["__h"], order_by=[id_col]).drop("__h")


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    hash_mode: str = "md5",
) -> DataFrame:
    """Tier 2: 60-bit SimHash over whitespace tokens.

    ``hash_mode="md5"`` (default) derives the 60 bits from md5 hex —
    bit-identical reproducible outside the JVM. ``"xx"`` hashes with
    xxhash64 masked to 60 bits; measured NO faster at sf0.1 (1.8s vs
    2.4s for the full fingerprint stage — the 60 per-bit partial-sum
    aggregation dominates, not the token hash), so unlike MinHash the
    reproducible hash is also the default here.

    Shape: explode tokens → hash each ONCE → one grouped aggregation with
    PACKED bit-count sums: each bigint accumulator carries three 21-bit
    counters (bits {j, j+20, j+40} of the hash at offsets 0/21/42), so the
    60 per-bit majority counts need 20 aggregation buffers instead of 60.
    Measured at sf0.1: the isolated aggregation drops 0.83s → 0.76s (the
    sums add ~0.3s over a count-only agg; end-to-end is stage-overhead
    -bound at this SF) — the packing pays off in aggregation-buffer
    memory traffic at scale, not in small-SF wall-clock. The earlier
    all-in-one higher-order-function expression that re-walked the
    token-hash array 60× per row was ~4× slower than either.
    No cross-counter carry while every doc has < 2²¹ (~2M) tokens —
    enforced with an assert on the per-doc token count (a 2M-token doc is
    ~8 MB of text; chunk upstream before fingerprinting such pathology).
    Map-side partial aggregation keeps the shuffle at one row per doc.

    Note: joins the fingerprint back by ``id_col`` (non-id columns of
    ``df`` pass through).
    """
    if hash_mode == "md5":
        h = F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast(
            "bigint"
        )
    else:
        h = F.xxhash64(F.col("__t")).bitwiseAND(F.lit((1 << 60) - 1))
    th = spread(df).select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    ).select(id_col, h.alias("__h"))
    W = 21  # counter width; 3 counters per bigint accumulator

    # Bit-arithmetic expressions are generated as SQL TEXT (one F.expr
    # parse each) rather than Column-by-Column: the ~700 py4j
    # round-trips of the operator form cost ~0.5 s of driver time per
    # plan construction; the JVM parses the same text in milliseconds.
    def packed_sql(j):
        # bit j at offset 0, bit j+20 at offset 21, bit j+40 at offset 42
        return " + ".join(
            f"CAST(shiftleft(shiftright(__h, {j + 20 * k}) & 1, {W * k}) "
            "AS BIGINT)"
            for k in range(3)
        )

    counts = th.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.expr(f"sum({packed_sql(j)})").alias(f"__a{j}") for j in range(20)],
    )

    def bit_count_sql(i):
        j, k = i % 20, i // 20
        return f"(shiftright(__a{j}, {W * k}) & {(1 << W) - 1})"

    fp = F.expr(
        " + ".join(
            f"IF({bit_count_sql(i)} * 2 > __n, "
            f"CAST({2 ** i} AS BIGINT), CAST(0 AS BIGINT))"
            for i in range(60)
        )
    )
    guard = F.assert_true(
        F.col("__n") < F.lit(1 << W),
        F.lit("simhash64: doc exceeds 2^21 tokens; packed counters overflow"),
    )
    sig = counts.select(
        F.col(id_col), F.when(guard.isNull(), fp).alias(out_col)
    )
    return df.join(sig, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("bigint"))
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sig_col: str = "simhash",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Tier 2b: near-dup candidate pairs from SimHash fingerprints.

    Pigeonhole banding: split the 60-bit fingerprint into ``max_hamming+1``
    chunks — any two fingerprints within ``max_hamming`` bits must agree on
    at least one whole chunk, so bucketing on (chunk_idx, chunk_bits) finds
    every such pair with an equi-join. Exact Hamming distance
    (``bit_count(a XOR b)``) then filters false positives. Same
    groupBy-bucket pair expansion as MinHash-LSH (singleton buckets die
    early, capped degenerate buckets).

    Scale bound (measured in the 32× probe, SCALING.md): at FIXED
    fingerprint width, chance chunk collisions are a birthday process —
    expected candidate pairs ~ (max_hamming+1)·n²/2^(60/(max_hamming+1)).
    Lower ``max_hamming`` to widen the chunk keys as the corpus grows
    (max_hamming=1 → 30-bit chunks → ~10⁷ docs), keep ``max_bucket`` as
    the hard cap, and at corpus sizes beyond the width budget run this
    tier per shard or after MinHash-LSH blocking (whose banded keys are
    effectively 256-bit and stay collision-free).

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    bands = max_hamming + 1
    chunk_bits = 60 // bands + (1 if 60 % bands else 0)
    sigs = simhash64(
        df.select(id_col, text_col), text_col=text_col, id_col=id_col
    ).select(id_col, sig_col)
    # bands unrolled in Python: shiftright takes a literal shift amount
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        id_col, sig_col, F.explode(chunks).alias("bb")
    ).select(id_col, sig_col, F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    members = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(sig_col).alias("s")))
    )
    buckets = (
        banded.groupBy("band", "chunk")
        .agg(members.alias("ms"))
        .where(F.size("ms").between(2, max_bucket))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ms"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ms"), i + 2, F.size("ms")),
                            lambda b: F.struct(
                                a["i"].alias("id_a"),
                                b["i"].alias("id_b"),
                                F.bit_count(a["s"].bitwiseXOR(b["s"])).alias(
                                    "hamming"
                                ),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 5,
    sig_col: str = "minhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Tier 3a: MinHash signature (array<bigint> of length ``num_hashes``)
    per document over word-``shingle_n``-gram shingles → (id_col, sig_col).

    h_i(doc) = min over shingles of hash_i(shingle). Seeded hash families:

    * ``xxhash64`` (default): ``F.xxhash64(seed_i, shingle)`` — pure JVM,
      no string materialization, the 100 TB hot path;
    * ``md5``: md5-hex-prefix bigint — slower, but recomputable bit-for-bit
      outside Spark (any engine with md5) when cross-system verification
      matters.

    Shape matters here: shingles are EXPLODED to rows, hashed once per
    (shingle, seed) as plain columns, then min-aggregated per doc. The
    tempting all-in-one nested higher-order-function expression re-evaluates
    the normalize/tokenize/shingle subtree once per seed per row (Catalyst
    collapses projections, so even a withColumn doesn't materialize it) —
    measured ~50× slower. The explode form also scales: one uniform shuffle
    on id_col, partial min aggregation map-side. ``spread`` parallelizes the
    CPU-dense shingle stage when the scan yields fewer splits than cores
    (measured 2.5× at sf0.1, where documents.parquet is one 2 MB split).
    """
    df = spread(df)
    sh = df.select(
        id_col,
        F.explode(
            F.array_distinct(shingles(F.col(text_col), n=shingle_n))
        ).alias("__s"),
    )
    if hash_fn == "xxhash64":
        def h(i):
            return F.xxhash64(F.lit(i), F.col("__s"))
    elif hash_fn == "md5":
        # two 60-bit lanes per digest (hex chars 1-15 and 16-30): 16
        # hashes cost 8 md5 evaluations, and Catalyst's subexpression
        # elimination shares each digest across its lane pair — measured
        # ~0.5s off the md5-mode signature stage at sf0.1
        def h(i):
            return F.conv(
                F.substring(
                    F.md5(F.concat(F.col("__s"), F.lit(f":{i // 2}"))),
                    1 + 15 * (i % 2),
                    15,
                ),
                16,
                10,
            ).cast("bigint")
    else:  # pragma: no cover
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    mins = sh.groupBy(id_col).agg(
        *[F.min(h(i)).alias(f"__h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        id_col,
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias(sig_col),
    )


def lsh_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding of the MinHash signature → (id_col, band, bucket): one
    row per (doc, band), bucket = that band's slice of the signature as a
    string key. Shared by the pair generator below and the cluster query
    (which star-joins buckets instead of expanding pairs)."""
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, hash_fn=hash_fn
    )
    return bands_from_signatures(sigs, num_hashes, bands, id_col)


def bands_from_signatures(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    sig_col: str = "minhash",
) -> DataFrame:
    """Explode precomputed MinHash signatures (``sig_col``, the
    array<bigint> column ``minhash_signatures`` produces — pass its
    ``sig_col`` through if renamed) into (id, band, bucket) rows — the
    banding half of ``lsh_band_buckets``, factored out so callers that
    already hold signatures (the incremental index) don't recompute
    them. ``keep_cols`` ride along unchanged."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        id_col,
        *keep_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        "-",
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        id_col,
        *keep_cols,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    max_bucket: int = 10_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Tier 3b: LSH banding → candidate near-dup pairs (id_a < id_b).

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band's bucket key become a candidate pair. The
    explode-groupBy-join runs on banded hash keys (uniform distribution →
    no skew) and never compares documents pairwise outside a bucket —
    this is what makes near-dup dedup feasible at 100 TB.
    """
    banded = lsh_band_buckets(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_fn=hash_fn
    )

    # Pairs via groupBy-bucket + in-bucket expansion, NOT a banded self-join:
    # a self-join would execute the whole signature pipeline twice (Catalyst
    # doesn't share the common subtree across join sides) and shuffle two
    # full copies of the banded table — measured ~2.5× slower at sf0.1.
    # Here singleton buckets (the overwhelming majority) die before any pair
    # exists, and a bucket of k docs expands to k(k-1)/2 pairs JVM-side.
    # ``max_bucket`` caps pathological buckets (boilerplate/empty shingle
    # collisions): at 100 TB one degenerate bucket of 10^6 docs would emit
    # 5·10^11 pairs — capped buckets are dropped (their members are caught by
    # other bands or the exact-dedup tier, which runs first).
    ids = F.array_sort(F.collect_list(id_col))
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .where(F.size("ids").between(2, max_bucket))
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Tier 3c: exact n-gram Jaccard on candidate pairs only.

    Joins shingle *sets* (array_distinct) onto each side — candidates are a
    tiny fraction of the corpus, so shipping two shingle arrays per pair is
    cheap. Jaccard via array_intersect/array_union sizes, JVM-side.

    Only docs that appear in a candidate pair are re-shingled: a left-semi
    join prunes the corpus BEFORE the (expensive) shingle projection — at
    near-dup rates of ~1% that's a ~100× cut in verify-stage tokenize work.
    The pairs plan feeds three consumers (id filter, join key each side), so
    it is materialized ONCE via localCheckpoint — without it Spark re-runs
    the whole LSH pipeline per consumer (measured 6× slower). Candidates
    are tiny (pairs of ids), so the checkpoint is KBs.
    """
    pairs = checkpoint(pairs)
    cand_ids = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    docs_needed = docs.join(cand_ids, on=id_col, how="left_semi")
    # force=True: the semi join prunes to candidate docs (small by
    # construction), and probing a wide plan would execute the join at
    # build time — repartition unconditionally for the CPU-dense shingle
    sh = spread(docs_needed, force=True).select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def incremental_exact_dedup(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sink=None,
) -> DataFrame:
    """Tier 1 at corpus-growth time: dedup a NEW batch against the
    corpus's PERSISTED fingerprint index, never against the corpus
    itself — the way a 100 TB corpus actually grows (rescanning all
    prior text per ingest would be O(corpus) per batch; the index is a
    2-column (md5, source id) snapshot table, ~50 bytes/doc).

    Steps: hash the batch (md5 of raw text — the same key
    :func:`exact_dedup` uses), LEFT ANTI join the index (already-seen
    content drops), keep-first within the batch, deliver the survivors
    to ``sink`` (a ``DataFrame -> None`` callable that writes them to
    the corpus), and only THEN append the survivors' fingerprints to
    the index as one atomic snapshot commit.

    Ordering is the crash contract: corpus write FIRST, index commit
    SECOND. A crash in between reruns as at-least-once — the rerun's
    anti-join still sees the docs as fresh (fingerprints not yet
    committed) and re-delivers them, so an idempotent sink (keyed
    upsert, content-addressed file names, a batch-id-deduped snapshot
    sink) makes the whole step exactly-once. The REVERSE order would be
    at-most-once: fingerprints committed but survivors never persisted
    means the rerun drops the batch as "already seen" — silent data
    loss. Callers that pass ``sink=None`` take responsibility for that
    hazard: the fingerprints are committed when this returns, so the
    returned survivors MUST be persisted by the caller without a
    crash window (acceptable in tests; not in an ingest job).

    First call creates the index. Duplicate index rows from an
    at-least-once rerun are harmless to the anti join (set semantics);
    vacuum/OPTIMIZE can compact them. Concurrent batches both commit —
    the snapshot append retries its manifest publish on a lost race.
    Returns the surviving rows of ``new_docs``.
    """
    from ..snapshots import snapshot_read, snapshot_write

    spark = new_docs.sparkSession
    hashed = new_docs.withColumn("__h", F.md5(F.col(text_col)))
    try:
        idx = snapshot_read(spark, index_path).select("__h")
        fresh = hashed.join(idx, on="__h", how="left_anti")
    except FileNotFoundError:
        fresh = hashed
    survivors = dedupe_keep_first(fresh, ["__h"], order_by=[id_col])
    if sink is not None:
        sink(survivors.drop("__h"))
    snapshot_write(
        survivors.select("__h", F.col(id_col).alias("src_id")),
        index_path,
        mode="append",
    )
    return survivors.drop("__h")


def crossdoc_repeated_ngrams(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated n-gram detection: for each document, how
    many of its token n-gram positions carry an n-gram that also occurs
    in at least one OTHER document — the substring-duplication signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), approximated at shingle granularity so it runs as plain
    aggregations instead of a suffix array.

    Returns (id, n_ngrams, dup_ngrams, dup_bp) where dup_bp is the
    duplicated fraction in basis points (integer ``dup·10⁴ ÷ total``,
    exact in any engine; NULL for docs shorter than n tokens).

    Scale notes (100 TB): the shingle key is a 16-hex-char md5 prefix,
    so full text never shuffles — only (id, key) pairs. "Occurs in ≥2
    distinct docs" is computed as ``min(id) <> max(id)`` per key: exact
    for the ≥2 test and fully partial-aggregatable, unlike
    count_distinct which would carry id sets through the shuffle. The
    dup-key join is an equi-join on a uniform hash key (no skew), and
    the per-doc rollup partial-aggregates map-side.
    """
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
    # strict positions 0..len-n (no shingle for docs shorter than n);
    # guard the sequence: F.sequence(1, 0) would DESCEND, not be empty
    starts = F.when(
        F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda i: F.substring(
                    F.md5(F.array_join(F.slice("t", i, n), " ")), 1, 16
                ),
            )
        ).alias("sh"),
    )
    dup_keys = (
        grams.groupBy("sh")
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .where(F.col("__lo") != F.col("__hi"))
        .select("sh")
    )
    per_doc = (
        grams.join(dup_keys, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("dup_ngrams"))
    )
    totals = toks.select(
        F.col(id_col),
        F.greatest(F.size("t") - F.lit(n - 1), F.lit(0))
        .cast("bigint")
        .alias("n_ngrams"),
    )
    out = totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        "n_ngrams",
        F.coalesce(F.col("dup_ngrams"), F.lit(0)).cast("bigint").alias(
            "dup_ngrams"
        ),
    )
    # `div` = exact integer division (floor(a / b) on doubles would take
    # the 2^53 / one-ulp divergence path vs the oracle's integer `//`)
    return out.withColumn(
        "dup_bp",
        F.when(
            F.col("n_ngrams") > 0,
            F.expr("dup_ngrams * 10000 div n_ngrams"),
        ),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every token ``k``-gram, slide a window of
    ``w`` consecutive hashes over each document, and in every window
    select the minimum hash (rightmost occurrence on ties). The
    selected (position, hash) set is the document's fingerprint, with
    the paper's guarantee: any shared token run of length ≥ w+k−1
    between two documents produces at least one shared fingerprint
    (pinned in pytest), at an expected density of 2/(w+1).

    Returns one row per selected fingerprint: ``(id, pos, h)`` with
    ``pos`` the 1-based k-gram position and ``h`` a 56-bit md5-derived
    hash (14 hex chars, so the tie-break packing below stays in
    bigint). Documents shorter than ``k`` tokens contribute no rows.

    Relational shape (no window functions, no self-joins):

    1. one pass builds (pos, h) per k-gram via ``transform(sequence)``
       + explode — zero shuffle;
    2. each position fans out to the ≤ w windows containing it
       (windows are starts ``s ∈ 1..max(m−w+1, 1)``; short docs get
       one truncated window covering all hashes);
    3. the per-window rightmost-min is ONE partial-aggregatable
       ``min(h·16 + (window_end − pos))`` — smallest hash first, then
       smallest distance-from-end (= rightmost position); ``w ≤ 16``
       keeps the packing exact;
    4. distinct (id, pos, h) de-duplicates positions selected by
       several windows.

    100 TB: the fan-out is a bounded ×w row multiplication of (id,
    pos, 8-byte hash) triples — text itself never shuffles; the
    groupBy key (id, s) is per-document so partial aggregation
    combines map-side; no global or per-doc sort anywhere.
    """
    if not 2 <= w <= 16:
        raise ValueError("w must be in 2..16 (tie-break packing)")
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
    m = (F.size("t") - F.lit(k - 1)).alias("m")
    starts = F.when(
        F.size("t") >= k, F.sequence(F.lit(1), F.size("t") - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    kg = toks.select(
        F.col(id_col),
        m,
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.conv(
                        F.substring(
                            F.md5(F.array_join(F.slice("t", i, k), " ")),
                            1,
                            14,
                        ),
                        16,
                        10,
                    )
                    .cast("bigint")
                    .alias("h"),
                ),
            )
        ).alias("g"),
    ).select(F.col(id_col), "m", "g.pos", "g.h")
    n_starts = F.greatest(F.col("m") - F.lit(w - 1), F.lit(1))
    win = kg.select(
        F.col(id_col),
        F.col("m"),
        F.col("pos"),
        F.col("h"),
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - F.lit(w - 1), F.lit(1)),
                F.least(F.col("pos"), n_starts),
            )
        ).alias("s"),
    ).select(
        F.col(id_col),
        F.col("s"),
        F.least(F.col("s") + F.lit(w - 1), F.col("m")).alias("e"),
        (F.col("h") * 16 + F.least(F.col("s") + F.lit(w - 1), F.col("m"))
         - F.col("pos")).alias("packed"),
    )
    sel = win.groupBy(id_col, "s", "e").agg(F.min("packed").alias("p"))
    return sel.select(
        F.col(id_col),
        (F.col("e") - F.pmod("p", F.lit(16))).cast("bigint").alias("pos"),
        F.expr("p div 16").cast("bigint").alias("h"),
    ).distinct()


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    breaker_hexes: tuple[str, ...] = ("0", "1", "2"),
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking: split each document into variable-length
    token chunks whose boundaries are chosen by a hash of the token
    itself (a token is a *breaker* when the first hex char of its salted
    md5 falls in ``breaker_hexes``; the breaker ends its chunk).

    Content-defined (rather than fixed-offset) boundaries are the
    storage-dedup trick (LBFS, Muthitacharoen et al. 2001) applied to
    text: inserting one token near the front of a document shifts every
    fixed-size window, but leaves all chunk boundaries after the next
    breaker token untouched — so unchanged regions keep identical chunk
    hashes and still dedup. With 3 of 16 hex digits as breakers the
    expected chunk length is 16/3 ≈ 5.3 tokens.

    Returns (id, chunk_id, n_toks, chunk) with chunk_id counting from 0
    in token order. Scale notes (100 TB): the only window is an
    exclusive running count PARTITIONed BY the document id — state is
    bounded by one document's tokens, never global; the chunk
    re-assembly groupBy is keyed on (id, chunk_id), uniform by
    construction. Tokens (not full documents) flow through the explode,
    and downstream consumers hash chunks before any cross-doc shuffle.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("pos", "tok"),
    )
    is_brk = F.substring(
        F.md5(F.concat(F.col("tok"), F.lit(":" + salt))), 1, 1
    ).isin(*breaker_hexes)
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_chunk = toks.withColumn(
        "chunk_id",
        F.coalesce(F.sum(is_brk.cast("int")).over(w), F.lit(0)).cast(
            "bigint"
        ),
    )
    return with_chunk.groupBy(id_col, "chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk"),
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = 1,
    breaker_hexes: tuple[str, ...] = ("0", "1", "2"),
    salt: str = "cdc",
) -> DataFrame:
    """RefinedWeb-style line/passage dedup generalized to content-defined
    chunks: any chunk occurring in more than ``df_cap`` distinct
    documents is boilerplate and is removed from EVERY document, and the
    surviving chunks are re-assembled in order (Penedo et al. 2023 run
    exactly this shape line-wise; chunk boundaries here come from
    ``cdc_chunks`` so the operator needs no newline structure).

    Returns one row per input document:
    (id, n_chunks, n_toks, n_kept, kept_toks, clean_fp) where clean_fp
    is md5 of the re-assembled text ('' hashes when every chunk was
    boilerplate) — the fingerprint travels to the driver, never the
    rebuilt body.

    Scale notes (100 TB): chunk document-frequency is computed on
    md5(chunk) over a two-phase distinct — (hash, id) pairs, never
    chunk text — and the hot-chunk set joins back as a left_anti on the
    same uniform 128-bit key. The re-assembly groupBy is keyed by
    document id; no collect, no window wider than one document.
    """
    # three consumers (df count, anti-join, per-doc totals) read the
    # chunk table — materialize it once (identity in plan-only mode)
    chunks = checkpoint(
        cdc_chunks(docs, id_col, text_col, breaker_hexes, salt).withColumn(
            "__h", F.md5("chunk")
        )
    )
    dfreq = (
        chunks.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    hot = dfreq.where(F.col("__df") > df_cap).select("__h")
    return _chunk_rollup(chunks, hot, id_col)


def _chunk_rollup(chunks: DataFrame, hot: DataFrame, id_col: str) -> DataFrame:
    """Shared tail of the chunk-dedup forms: drop hot chunks, rebuild
    per-doc fingerprints, join against per-doc totals (docs that lose
    every chunk survive with n_kept 0 and the empty-string hash)."""
    kept = chunks.join(hot, "__h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_toks").cast("bigint").alias("kept_toks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("clean_fp"),
    )
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_toks").cast("bigint").alias("n_toks"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        "n_toks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("kept_toks"), F.lit(0))
        .cast("bigint")
        .alias("kept_toks"),
        F.coalesce(F.col("clean_fp"), F.md5(F.lit(""))).alias("clean_fp"),
    )


def hamming_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Pigeonhole-banded Hamming near-dup candidates over ANY integer
    fingerprint column — the banding core of ``simhash_candidates``
    factored out so other fingerprint families (image aHash in
    ext/multimodal.py, audio fingerprints) reuse it: split the ``bits``-
    wide signature into ``max_hamming+1`` chunks; two signatures within
    ``max_hamming`` bits must agree on at least one whole chunk, so a
    (chunk_idx, chunk_bits) equi-join finds every such pair. Exact
    ``bit_count(a XOR b)`` filters false positives; buckets above
    ``max_bucket`` are dropped (degenerate-content cap — same knob and
    same birthday-process width bound as simhash_candidates).

    Signed two's-complement signatures are fine: arithmetic shiftright
    plus the chunk mask strips sign-extension bits, and XOR/bit_count
    are sign-agnostic. Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    bands = max_hamming + 1
    chunk_bits = bits // bands + (1 if bits % bands else 0)
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        id_col, sig_col, F.explode(chunks).alias("bb")
    ).select(
        id_col,
        sig_col,
        F.col("bb.band").alias("band"),
        F.col("bb.chunk").alias("chunk"),
    )
    members = F.array_sort(
        F.collect_list(
            F.struct(F.col(id_col).alias("i"), F.col(sig_col).alias("s"))
        )
    )
    buckets = (
        banded.groupBy("band", "chunk")
        .agg(members.alias("ms"))
        .where(F.size("ms").between(2, max_bucket))
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ms"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ms"), i + 2, F.size("ms")),
                            lambda b: F.struct(
                                a["i"].alias("id_a"),
                                b["i"].alias("id_b"),
                                F.bit_count(
                                    a["s"].bitwiseXOR(b["s"])
                                ).alias("hamming"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def incremental_chunk_dedup(
    spark,
    batch: DataFrame,
    index_tbl: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = 1,
    breaker_hexes: tuple[str, ...] = ("0", "1", "2"),
    salt: str = "cdc",
) -> DataFrame:
    """Corpus-growth form of :func:`cdc_chunk_dedup`: the chunk
    document-frequency index is a PERSISTED snapshot view keyed by
    chunk hash, maintained incrementally — per ingested batch the work
    is O(batch), never O(corpus).

    Commit-first contract, per batch:

    1. chunk + hash the batch (``cdc_chunks``);
    2. fold the batch's distinct (hash, doc) membership into the index
       via the counting algorithm, EXACTLY ONCE per ``batch_id``
       (``ext/matview.py::idempotent_view_commit`` — a foreachBatch
       replay skips the commit);
    3. read the post-commit index: chunks whose accumulated df exceeds
       ``df_cap`` are boilerplate;
    4. clean THIS batch's documents against that set and return the
       ``cdc_chunk_dedup``-shaped rollup.

    Because the decision state is always the post-commit index, a
    replayed batch reaches steps 3-4 with identical state and returns
    identical output (crash-after-commit safe). Already-ingested
    documents are not retroactively re-cleaned — the standard ledgered
    semantics of incremental corpus cleaning (a chunk that LATER turns
    hot is removed from subsequent batches only; re-clean historically
    by re-running the batch pipeline from the ledger).

    Scale: the index update shuffles one row per distinct batch chunk;
    the hot-set read is a filter on the index snapshot (hash-keyed,
    stats-prunable); nothing scans prior batches' text.
    """
    from ..ext.matview import idempotent_view_commit
    from ..snapshots import snapshot_read

    chunks = checkpoint(
        cdc_chunks(batch, id_col, text_col, breaker_hexes, salt).withColumn(
            "__h", F.md5("chunk")
        )
    )
    members = (
        chunks.select(F.col("__h").alias("h"), F.col(id_col))
        .distinct()
        .withColumn("op", F.lit("I"))
    )
    idempotent_view_commit(spark, index_tbl, members, batch_id, ["h"])
    idx = snapshot_read(spark, index_tbl)
    hot = idx.where(F.col("n_rows") > df_cap).select(
        F.col("h").alias("__h")
    )
    return _chunk_rollup(chunks, hot, id_col)


def exact_substring_dedup(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §4.1), relational form:
    any token span of length ≥ ``k`` that occurs more than once
    corpus-wide is REMOVED from every occurrence except one canonical
    survivor (the lexicographically smallest ``(doc, pos)``), and each
    document is re-assembled from its surviving tokens.

    The paper runs a suffix array; the relational equivalent marks
    every duplicated-``k``-gram occurrence as a removal *start* and
    takes interval coverage per document — a maximal repeated span of
    length L ≥ k is exactly the union of its L−k+1 duplicated k-gram
    windows, so the covered positions are identical to the suffix-array
    spans (for spans in multiplicity ≥ 2 at granularity k).

    Pipeline (all built-ins, no Python):

    1. tokenize with positions; k-gram hash per start position (16-hex
       md5 prefix — text never shuffles, only (id, pos, key));
    2. per k-gram: ``count ≥ 2`` plus the canonical occurrence as
       ``min(id·2²² + pos)`` — a packed-bigint argmin, fully
       partial-aggregatable (no window over the occurrence list, so a
       boilerplate k-gram with millions of occurrences still
       map-side-combines; contrast a row_number() per key, which would
       sort the hottest key on one reducer);
    3. non-canonical occurrences become removal starts; coverage is one
       per-document running ``max(start + k − 1)`` window (a document
       is one partition — bounded by max doc length, same shape as
       ``cdc_chunks``' boundary scan);
    4. per-doc rollup: token/start/removed counts and the md5
       fingerprint of the surviving tokens in order (empty survivors →
       md5('')).

    Packing assumes ``pos < 2²²`` (4M tokens/doc) and ``id < 2⁴¹``;
    both hold for any realistic document corpus and are asserted
    nowhere hot (they'd wrap, not error — document-level contract).

    Returns (id, n_toks, n_dup_starts, n_removed, clean_fp).
    """
    grams = _substr_kgrams(docs, k, id_col, text_col)
    packed = F.col(id_col) * _SUBSTR_PACK + F.col("pos")
    gstats = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(
                F.col(id_col) * _SUBSTR_PACK + F.col("pos")
            ).alias("__canon"),
        )
        .where(F.col("__cnt") >= 2)
        .select("h", "__canon")
    )
    starts = (
        grams.join(gstats, "h")
        .where(packed != F.col("__canon"))
        .select(F.col(id_col), F.col("pos"), F.lit(True).alias("__start"))
    )
    return _substr_rollup(docs, starts, k, id_col, text_col)


_SUBSTR_PACK = 1 << 22


def _substr_kgrams(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, h): the 16-hex md5 of every length-k token window —
    the shared front of batch and incremental ExactSubstr (text never
    shuffles, only the narrow gram triples)."""
    arr = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    starts_seq = F.when(
        F.size("t") >= k, F.sequence(F.lit(1), F.size("t") - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return arr.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts_seq,
                lambda i: F.struct(
                    (i - 1).cast("bigint").alias("pos"),
                    F.substring(
                        F.md5(F.array_join(F.slice("t", i, k), " ")), 1, 16
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))


def _substr_rollup(
    docs: DataFrame, starts: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """Interval coverage per document from the removal-start set + the
    per-doc rollup — the shared back of batch and incremental
    ExactSubstr. ``starts`` is (id, pos, __start=True)."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    cov = toks.join(starts, [id_col, "pos"], "left").withColumn(
        "__cov_end",
        F.max(
            F.when(F.col("__start"), F.col("pos") + F.lit(k - 1))
        ).over(
            W.partitionBy(id_col)
            .orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    removed = F.col("__cov_end").isNotNull() & (
        F.col("__cov_end") >= F.col("pos")
    )
    return cov.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        F.coalesce(
            F.sum(F.when(F.col("__start"), 1)), F.lit(0)
        ).cast("bigint").alias("n_dup_starts"),
        F.coalesce(F.sum(F.when(removed, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~removed, F.struct("pos", "tok"))
                        )
                    ),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("clean_fp"),
    )


def incremental_exact_substring_dedup(
    new_docs: DataFrame,
    index_path: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    sink=None,
) -> DataFrame:
    """:func:`exact_substring_dedup` at corpus-growth time — the last
    member of the incremental-dedup matrix (exact / LSH / chunk /
    semantic / ExactSubstr): span-dedup a NEW batch against the
    corpus's PERSISTED k-gram index, never against the corpus text.

    Index = one (h, canon) row per distinct k-gram ever seen, where
    ``canon`` is the packed (doc·2²², pos) of its first (canonical)
    occurrence — the relational stand-in for the paper's suffix array,
    O(corpus tokens) rows of 24 bytes. Per ingest:

    1. batch k-grams (``_substr_kgrams``) left-join the index: a gram
       already indexed makes EVERY batch occurrence a removal start
       (the corpus's canonical copy survives — arrival-order
       precedence, like every incremental tier here); a gram new to
       the corpus but duplicated WITHIN the batch keeps its batch-min
       packed occurrence;
    2. coverage + rollup are the certified batch machinery
       (``_substr_rollup``);
    3. crash contract: cleaned survivors go to ``sink`` FIRST, the
       index append (only grams NOT yet indexed, at their
       batch-canonical location) commits SECOND — at-least-once rerun +
       idempotent sink = exactly-once, and a replay AFTER the commit is
       byte-identical anyway: a replayed doc's own occurrence IS the
       indexed canonical (packed equality), so it is not a removal
       start, reproducing the original decision.

    Scale: per ingest the batch side is O(batch k-grams); the index
    probe is an equi-join on ``h`` — at 100 TB persist the index
    BUCKETED on ``h`` (``sinks.write_bucketed``) so the probe
    co-partitions with zero index-side exchange. Returns the batch's
    (id, n_toks, n_dup_starts, n_removed, clean_fp).
    """
    from ..snapshots import snapshot_read, snapshot_write

    spark = new_docs.sparkSession
    grams = _substr_kgrams(new_docs, k, id_col, text_col)
    packed = F.col(id_col) * _SUBSTR_PACK + F.col("pos")
    bstats = grams.groupBy("h").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(
            F.col(id_col) * _SUBSTR_PACK + F.col("pos")
        ).alias("__bcanon"),
    )
    try:
        idx = snapshot_read(spark, index_path).select(
            "h", F.col("canon").alias("__icanon")
        )
        joined = bstats.join(idx, "h", "left")
    except FileNotFoundError:
        joined = bstats.withColumn(
            "__icanon", F.lit(None).cast("bigint")
        )
    # materialize the probed gram stats ONCE: both the rollup's start
    # set and the index append's fresh-gram set derive from `joined`,
    # and without this the batch's heaviest stage (k-gram explode +
    # groupBy + index join) would run twice per ingest
    joined = checkpoint(joined)
    gsel = joined.where(
        F.col("__icanon").isNotNull() | (F.col("__cnt") >= 2)
    ).select(
        "h",
        F.coalesce(F.col("__icanon"), F.col("__bcanon")).alias("__canon"),
    )
    starts = (
        grams.join(gsel, "h")
        .where(packed != F.col("__canon"))
        .select(F.col(id_col), F.col("pos"), F.lit(True).alias("__start"))
    )
    out = _substr_rollup(new_docs, starts, k, id_col, text_col)
    out = checkpoint(out)
    if sink is not None:
        sink(out)
    fresh = joined.where(F.col("__icanon").isNull()).select(
        "h", F.col("__bcanon").alias("canon")
    )
    snapshot_write(fresh, index_path, mode="append")
    return out


def incremental_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The exact signature frame :func:`incremental_lsh_neardup` signs
    its batch with — (id, minhash, sig) where ``sig`` is the
    ","-joined signature string. Exposed so a caller processing
    SEVERAL slices of one corpus in a session (e.g. a store bootstrap
    followed immediately by a probe batch) can sign the whole corpus in
    ONE pass, materialize it once, and hand each call its slice via
    ``presigned=`` — one corpus scan instead of one per call
    (optimization round 9, guide §2.4)."""
    return minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_n, hash_fn=hash_fn
    ).withColumn(
        # "," separator, NOT "-": xxhash64 coordinates can be negative,
        # and a "-"-joined signature mis-splits on the sign
        "sig",
        F.array_join(
            F.transform(F.col("minhash"), lambda v: v.cast("string")), ","
        ),
    )


def incremental_lsh_neardup(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 10_000,
    hash_fn: str = "xxhash64",
    sink=None,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Tier 3 at corpus-growth time: near-dup-dedup a NEW batch against
    the corpus's PERSISTED LSH index — the MinHash sibling of
    :func:`incremental_exact_dedup`. Per batch the work is
    O(batch + candidates), never O(corpus): prior documents are touched
    only through their banded signature rows, and only in the buckets
    the new batch lands in.

    The index is a snapshot table of (band, bucket, doc_id, sig) rows —
    one row per (surviving doc, band), ``sig`` the full ","-joined
    MinHash signature (so verification needs no text). Per batch:

    1. sign + band the batch once (``minhash_signatures`` →
       ``bands_from_signatures``);
    2. cross-generation candidates = batch bands equi-joined to the
       index on (band, bucket); within-batch candidates = the usual
       in-bucket expansion (``max_bucket``-capped on the index side
       too, so one boilerplate bucket can't explode the join);
    3. verify by signature agreement — matching MinHash coordinates /
       ``num_hashes``, the standard unbiased Jaccard estimator — a pure
       ``zip_with`` over the two sig arrays;
    4. survivor rule, greedy by id (one pass, no iteration): a new doc
       drops if it matches any indexed doc at ≥ ``threshold``, or any
       smaller-id doc of its own batch. (Greedy-by-id is the SemDeDup
       one-pass rule; it can drop a chain a~b~c entirely except `a` —
       by design. Cluster-exact semantics need the batch CC path,
       ``ext/graph.py``.)
    5. deliver survivors to ``sink``, THEN append their banded rows to
       the index — the same corpus-write-first crash contract as
       :func:`incremental_exact_dedup` (at-least-once rerun + an
       idempotent sink = exactly-once; the reverse order silently
       loses data).

    Estimator caveat (documented, not hidden): signature agreement
    approximates Jaccard with σ = √(J(1−J)/num_hashes); exact-text
    verification would require fetching candidate docs' text from the
    corpus (O(candidates) — the hook is ``jaccard_verify`` and a
    semi-join, left to the caller when the corpus table is at hand).

    ``presigned``: this batch's signature pass, already run and
    materialized by the caller (e.g. one corpus-wide pass shared by a
    bootstrap and a probe call). It must be :func:`incremental_signatures`
    of ``new_docs`` under this call's ``num_hashes``, ``shingle_n`` and
    ``hash_fn``, else the estimate and the index are silently skewed. Only
    its columns are checked (no Spark job): ``ValueError`` unless it has
    ``id_col``, ``minhash`` and ``sig``.

    Returns the surviving rows of ``new_docs``.
    """
    from ..snapshots import snapshot_read, snapshot_write

    spark = new_docs.sparkSession
    missing = presigned is not None and {id_col, "minhash", "sig"} - set(presigned.columns)
    if missing:
        raise ValueError(f"presigned lacks column(s) {sorted(missing)}")
    sigs = (
        presigned
        if presigned is not None
        else checkpoint(
            incremental_signatures(
                new_docs, id_col, text_col, num_hashes, shingle_n,
                hash_fn=hash_fn,
            )
        )
    )
    banded = bands_from_signatures(
        sigs, num_hashes, bands, id_col, keep_cols=("sig",)
    )

    def agree(a, b):
        sa = F.split(a, ",")
        return (
            F.size(
                F.filter(
                    F.zip_with(sa, F.split(b, ","), lambda x, y: x == y),
                    lambda t: t,
                )
            )
            / F.lit(float(num_hashes))
        )

    dropped_new = None
    try:
        idx = snapshot_read(spark, index_path)
        # prune the index to ONLY the buckets this batch lands in
        # BEFORE any aggregation — otherwise the bucket-size pass
        # would scan the whole index every batch, breaking the
        # O(batch + candidates) contract. The semi join keeps every
        # index row of a touched bucket, so the size count stays exact.
        touched = idx.join(
            banded.select("band", "bucket").distinct(),
            ["band", "bucket"],
            "left_semi",
        )
        # cap boilerplate buckets on the index side: a bucket with more
        # members than max_bucket contributes no candidates (its docs
        # were already deduped against each other when indexed)
        bucket_sizes = touched.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        idx_capped = touched.join(
            bucket_sizes.where(F.col("__bn") <= max_bucket),
            ["band", "bucket"],
        )
        cross = (
            banded.join(
                idx_capped.select(
                    "band",
                    "bucket",
                    F.col(id_col).alias("__old_id"),
                    F.col("sig").alias("__old_sig"),
                ),
                ["band", "bucket"],
            )
            .select(id_col, "sig", "__old_sig")
            .distinct()
        )
        dropped_new = (
            cross.where(agree(F.col("sig"), F.col("__old_sig")) >= threshold)
            .select(id_col)
            .distinct()
        )
    except FileNotFoundError:
        pass

    # within-batch: in-bucket pair expansion among new docs only
    ids = F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col("sig"))))
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .where(F.size("ids").between(2, max_bucket))
    )
    batch_pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda b: F.struct(
                                a.alias("a"), b.alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    dropped_batch = (
        batch_pairs.where(
            agree(F.col("a.sig"), F.col("b.sig")) >= threshold
        )
        .select(F.col("b." + id_col).alias(id_col))
        .distinct()
    )
    # dropped is id-only (batch-bounded, tiny) but its upstream is the
    # expensive part of the gate (index candidate join + both signature
    # agreement verifications). survivors is consumed up to THREE times
    # (sink, the banded index append below, and the caller's use of the
    # return value) and each consumption re-ran the whole agreement
    # chain — materialize the drop decision once (optimization round 9,
    # guide §2.4).
    dropped = checkpoint(
        dropped_batch if dropped_new is None
        else dropped_new.unionByName(dropped_batch).distinct()
    )
    survivors = new_docs.join(dropped, id_col, "left_anti")
    if sink is not None:
        sink(survivors)
    surv_banded = banded.join(
        survivors.select(id_col), id_col, "left_semi"
    ).select("band", "bucket", id_col, "sig")
    snapshot_write(surv_banded, index_path, mode="append")
    return survivors
