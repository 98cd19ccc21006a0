"""Deduplication operators for web-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH, SimHash and exact n-gram Jaccard.
The per-document signatures (MinHash, SimHash) run as zero-shuffle
Arrow kernels (through ``util.map_in_arrow``: they read Arrow columns
and yield record batches).  Their per-batch memo is the one every
Python batch of the package shares, ``util.per_distinct``: each
distinct text of a batch is hashed once, and the kernels keep only
their numpy step, ONE pass over all distinct texts of the batch
(``reduceat`` per text), which a per-document body of the shared
runner (``util.map_documents``) would split into one small array pass
per text.  Everything keyed across documents (grouping, bucket
self-joins, verification) is a declarative plan that shuffles only on
its join/group keys.  Every hash is derived from
``md5`` so DuckDB oracles can reproduce results bit-for-bit:

    H(s)  = first 60 bits of md5(s) as bigint        (cross-engine)
    Spark:  cast(conv(substr(md5(s),1,15),16,10) as bigint)
    DuckDB: cast('0x' || substr(md5(s),1,15) as bigint)
    Python: _h60(s)

Scale notes (100 TB):
  * exact dedup — one shuffle on the 128-bit digest; AQE handles skew.
  * MinHash — one kernel (``_doc_minhash_sets``) computes each doc's
    signature with no exchange; ``_band_keys`` projects it to LSH band
    buckets, and the O(n²) pair search becomes an equi-join on
    (band, key).  Batch, LSH-only and streaming near-dup all bucket
    documents through these two functions, one plan each: signature
    kernel → band keys → verify, over every document.
  * Shingle Jaccard — common-shingle blowup is bounded by ``max_df``
    (drop shingles appearing in more docs — the standard stop-shingle
    cut).
  * SimHash — 32-bit fingerprint per doc from one kernel; near-dup
    search runs over DISTINCT fingerprints, joins on multi-index group
    keys (pigeonhole: any pair within ``max_hamming`` agrees on some
    group up to one bit), and ``_expand_classes`` maps value pairs back
    to doc pairs.
"""

from __future__ import annotations

from collections import Counter
from hashlib import md5
from itertools import chain

from pyspark.sql import DataFrame, functions as F

from ..util import (_cast, _onto_rows, checkpoint_parquet, map_in_arrow,
                    per_distinct)

#: modulus for minhash permutations (2^31 - 1, prime)
P = 2_147_483_647

#: 60-bit md5-derived hash, identical in DuckDB (see module docstring)
def H(col: str) -> str:
    return f"cast(conv(substr(md5({col}), 1, 15), 16, 10) as bigint)"


def _h60(s: str) -> int:
    """:func:`H` of one Python string, for the Arrow kernels."""
    return int(md5(s.encode()).hexdigest()[:15], 16)


def perm_params(j: int) -> tuple[int, int]:
    """Deterministic j-th minhash permutation (a*x+b) % P."""
    a = ((2 * j + 1) * 2_654_435_761) % P
    b = (j * 40_503 + 17) % P
    return (a if a else 1, b)


def tokens_expr(text_col: str = "text") -> str:
    return f"split({text_col}, ' ')"


def _shingles(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — distinct word k-grams per doc; the whole text
    is the single shingle when a doc has fewer than k tokens."""
    parts = " || ' ' || ".join(f"element_at(t, i + {d})" for d in range(k))
    return (
        df.selectExpr("doc_id", f"{text_col} as _txt", f"{tokens_expr(text_col)} as t")
        .selectExpr(
            "doc_id",
            f"explode(array_distinct(case when size(t) >= {k} then "
            f"transform(sequence(1, size(t) - {k - 1}), i -> {parts}) "
            f"else array(_txt) end)) as shingle")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _materialize(df: DataFrame) -> DataFrame:
    """persist + eager count: a DataFrame reused on both sides of a
    self-join must be materialized BEFORE the join, or both sides race
    to fill the cache and the upstream tree runs twice."""
    df = df.persist()
    df.count()
    return df

def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate groups by full-text digest: (text_md5, n_copies,
    keeper_id) for groups with >1 member; keeper = smallest doc_id."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _band_keys(wide: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, bk1, bk2) from a ``_doc_minhash_sets`` signature
    (mh0..mh{n-1}) — a pure projection + explode(bands), no aggregation.  Band keys are
    order-insensitive weighted sums matching the DuckDB oracle
    (sum(mh*(j+1)), sum(mh) over the band's global j range)."""
    rows = num_perm // bands
    entries = []
    for b in range(bands):
        js = range(b * rows, (b + 1) * rows)
        bk1 = " + ".join(f"mh{j} * {j + 1}" for j in js)
        bk2 = " + ".join(f"mh{j}" for j in js)
        entries.append(
            f"struct({b} as band, cast({bk1} as bigint) as bk1, "
            f"cast({bk2} as bigint) as bk2)")
    return (
        wide.selectExpr("doc_id", f"explode(array({', '.join(entries)})) as s")
        .selectExpr("doc_id", "s.band as band", "s.bk1 as bk1", "s.bk2 as bk2")
    )


def lsh_candidate_pairs(docs: DataFrame, num_perm: int = 16, bands: int = 4,
                        k: int = 3) -> DataFrame:
    """(a, b) doc pairs sharing at least one LSH band bucket (a < b)."""
    return _bucket_pairs(_materialize(  # the kernel runs once
        _band_keys(_doc_minhash_sets(docs, num_perm, k), num_perm, bands)))


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """(a, b) with a < b for every two docs sharing a (band, bk1, bk2)
    bucket — the LSH candidate self-join."""
    l, r = buckets.alias("l"), buckets.alias("r")
    return (
        l.join(r, ["band", "bk1", "bk2"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5, k: int = 3,
                  max_df: int | None = 8) -> DataFrame:
    """Shingle-Jaccard near-dup pairs (a, b, jaccard ≥ threshold) — the
    default API, with the stop-shingle cut ON (``max_df``): shingles
    seen in more than ``max_df`` docs are dropped before the self-join,
    the standard cut that keeps the candidate fan-out linear at 100 TB.
    ``jaccard_pairs_exact`` is the uncapped oracle gold standard.

    Complete over kept shingles: any pair with jaccard > 0 over them
    shares one, so the shingle equi-join generates every candidate."""
    sh = _materialize(_shingles(docs, k))  # sizes + both join sides
    if max_df is not None:
        keep = sh.groupBy("shingle").count().filter(F.col("count") <= max_df)
        sh = sh.join(keep.select("shingle"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("x").join(sh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def jaccard_pairs_exact(docs: DataFrame, threshold: float = 0.5,
                        k: int = 3) -> DataFrame:
    """UNCAPPED shingle-Jaccard — the small-scale ORACLE gold standard
    (not the default API; reach for ``jaccard_pairs``).  The shingle
    self-join fan-out is quadratic in document frequency: correct for
    oracle runs, a scale-killer beyond them."""
    return jaccard_pairs(docs, threshold=threshold, k=k, max_df=None)


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame,
                        threshold: float) -> DataFrame:
    """(a, b, jaccard) from intersection counts + set sizes.

    Filters on the UNROUNDED ratio (matching the oracle's order of
    operations), then rounds for output."""
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
        .selectExpr("a", "b", "inter / (na + nb - inter) as j_raw")
        .filter(F.col("j_raw") >= threshold)
        .selectExpr("a", "b", "round(j_raw, 6) as jaccard")
    )


def _doc_minhash_sets(docs: DataFrame, num_perm: int, k: int) -> DataFrame:
    """(doc_id, mh0..mh{n-1}, hset): per-document minhash signature AND
    the distinct 60-bit shingle-hash array, in ONE zero-shuffle Arrow
    kernel pass — both are pure per-document functions of the shingle
    set, so nothing needs an exchange (the declarative form paid the
    shingle explode plus two aggregate exchanges for the same rows).

    The only production MinHash signature: batch near-dup, LSH-only
    candidates and the streaming near-dup operator all call it.
    Bit-exact with the declarative shingle-explode + 16-min aggregate +
    ``collect_set(hs)`` form (kept as the SQL twin in the tests) and
    the DuckDB oracle: same distinct shingle STRINGS (whole text
    when < k tokens), same H() (first 15 md5 hex digits as int), same
    (a·(h%P)+b)%P permutation mins — all integer arithmetic.  Null
    text mirrors the SQL twin: its only hs is null, so mins are null
    and the hash set is empty (collect_set drops nulls)."""
    params = [perm_params(j) for j in range(num_perm)]

    def shingle_hashes(key):
        """The distinct shingle hashes of one text; None for null."""
        text, = key
        if text is None:
            return None
        t = text.split(" ")
        return [_h60(s) for s in (
            {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}
            if len(t) >= k else {text})]

    def run(batches, out):
        import numpy as np
        import pyarrow as pa

        a_vec = np.array([p[0] for p in params], dtype=np.uint64)
        b_vec = np.array([p[1] for p in params], dtype=np.uint64)
        for batch in batches:
            # one hash list per DISTINCT text of the batch (exact dups
            # share shingle sets), then the permutation mins of all
            # non-null ones as ONE numpy reduceat over their hashes
            # instead of a Python loop (bit-exact: h % P < 2^31 and
            # a, b < P, so a*h+b < 2^62 never overflows uint64)
            u_hs, take = per_distinct([batch.column("text")],
                                      shingle_hashes)
            null = np.array([hs is None for hs in u_hs], dtype=bool)
            lists = [hs for hs in u_hs if hs is not None]
            mins = np.zeros((num_perm, len(u_hs)), dtype=np.int64)
            if lists:
                n = np.array([len(hs) for hs in lists], dtype=np.int64)
                h_arr = np.fromiter(chain.from_iterable(lists), np.uint64,
                                    n.sum()) % np.uint64(P)
                vals = (h_arr[:, None] * a_vec[None, :]
                        + b_vec[None, :]) % np.uint64(P)
                mins[:, ~null] = np.minimum.reduceat(
                    vals, np.cumsum(n) - n, axis=0).T
            # a null text: null mins and an empty hash set
            yield pa.RecordBatch.from_arrays(
                [_cast(batch.column("doc_id"), pa.int64())]
                + [_onto_rows(np.ma.MaskedArray(m, null), take, pa.int64())
                   for m in mins]
                + [_onto_rows([hs or [] for hs in u_hs], take,
                              out.field("hset").type)], schema=out)

    schema = ("doc_id bigint, "
              + ", ".join(f"mh{j} bigint" for j in range(num_perm))
              + ", hset array<bigint>")
    return map_in_arrow(docs.select("doc_id", "text"), run, schema)


def minhash_near_dups(docs: DataFrame, threshold: float = 0.5,
                      num_perm: int = 16, bands: int = 4,
                      k: int = 3) -> DataFrame:
    """LSH candidates → exact Jaccard verification (a, b, jaccard).

    Round-6 kernel front (``_doc_minhash_sets``) over the round-5
    verify arrays:

    1. ONE Arrow kernel pass computes each doc's signature AND its
       verify hash array (_doc_minhash_sets — both are per-document
       functions, so the round-5 shingle explode and its two
       aggregate exchanges are gone).
    2. Band keys from a pure projection over the kernel output; the
       only shuffles are the bucket self-join, the candidate
       distinct, and the verify joins.

    Exact dups are not collapsed to one class representative first:
    on the catalog corpus (distinct/total 0.87) the class bookkeeping
    cost more Spark jobs and wall time than the verify work it saved.

    Hash semantics are engine-mirrored: both sides take distinct
    shingle STRINGS per doc, then operate purely on H(shingle), so the
    DuckDB oracle reproduces counts bit-for-bit."""
    # the kernel's (doc_id, mh*, hset) table feeds the bucket self-join
    # and both verify sides, so it is parquet-CHECKPOINTED: the A/B at
    # sf1 reads persist 3.17s / parquet 2.68s / none 3.49s (repeated
    # InMemoryRelation scans lose to vectorized parquet reads).
    wide = checkpoint_parquet(_doc_minhash_sets(docs, num_perm, k),
                              "minhash_wide")
    cand = _bucket_pairs(_band_keys(wide, num_perm, bands))
    # verify rides per-doc hash ARRAYS, not an exploded equi-join: the
    # old (cand x shingles) join shuffled one row per (pair, shingle) —
    # ~200x the candidate count — and its giant sort + hash-agg was
    # DRAM-bound (the round-4 8->32 ladder sat at 0.35).  Packing each
    # doc's hashes into one array makes the intersection a map-side
    # codegen expression; the only exchanges carry one row per doc and
    # one per candidate pair.  size(array_intersect) == the equi-join
    # count and size(hset) == count(*) because hs values are distinct
    # within a doc (distinct shingle strings under a 60-bit hash; a
    # within-doc collision would off-by-one the jaccard denominator,
    # p < 1e-10 per doc — the DuckDB oracle sees none at test scale).
    sets = wide.select("doc_id", "hset")
    return (
        cand.join(sets.selectExpr("doc_id as a", "hset as ha"), "a")
        .join(sets.selectExpr("doc_id as b", "hset as hb"), "b")
        .selectExpr("a", "b", "size(array_intersect(ha, hb)) as inter",
                    "size(ha) as na", "size(hb) as nb")
        .selectExpr("a", "b", "inter / (na + nb - inter) as j_raw")
        .filter(F.col("j_raw") >= threshold)
        .selectExpr("a", "b", "round(j_raw, 6) as jaccard")
    )


def _expand_classes(pairs: DataFrame, classes: DataFrame, key: str,
                    same: str) -> DataFrame:
    """Doc pairs (a, b, metric) from class pairs — the expansion step
    of the collapsed SimHash near-dup search (output-sized, pure joins
    and projections).  ``classes`` is (doc_id, ``key``), ``pairs`` is
    (a, b, metric) over ``key`` values: every (x in class a, y in class
    b) inherits its class pair's metric, and each class of m > 1
    members contributes its own m·(m-1)/2 pairs at the SQL value
    ``same``."""
    metric = pairs.columns[2]
    cross = (
        pairs
        .join(classes.selectExpr("doc_id as x", f"{key} as a"), "a")
        .join(classes.selectExpr("doc_id as y", f"{key} as b"), "b")
        .selectExpr("least(x, y) as a", "greatest(x, y) as b", metric)
    )
    within = (
        classes.alias("l").join(classes.alias("r"), key)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .selectExpr("l.doc_id as a", "r.doc_id as b", f"{same} as {metric}")
    )
    return cross.unionAll(within)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def line_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style cross-document line dedup: any line occurring in more
    than one place in the corpus survives only at its FIRST occurrence
    (lowest ``(doc_id, pos)``); every other copy is dropped, and each
    document's remaining lines are reassembled in order.  This is the
    C4 cleaning rule that strips boilerplate nav/footer lines repeated
    across a site.

    Scale shape: posexplode → ``min(struct(doc_id, pos))`` per line —
    a *partial-aggregable* min, so a line repeated across millions of
    pages collapses map-side instead of sorting one hot partition
    (which is why this is NOT a row_number window); then one equi-join
    back on the line and an ordered reassembly groupBy.  Three
    shuffles total, all on narrow rows.

    Returns (doc_id, text_dedup).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    first = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("f"))
    kept = (lines.join(first, "line")
            .filter((F.col("doc_id") == F.col("f.doc_id"))
                    & (F.col("pos") == F.col("f.pos"))))
    return (kept.groupBy("doc_id")
            .agg(F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, line))), s -> s.line), '\n') as text_dedup")))


def host_boilerplate(docs: DataFrame, min_docs: int = 3,
                     url_col: str = "url",
                     text_col: str = "text") -> DataFrame:
    """Site-template line removal (the CCNet/Dolma per-host pass, a
    finer rule than :func:`line_dedup`'s global-first-occurrence C4
    rule): a line is *host boilerplate* when the identical line occurs
    on at least ``min_docs`` DISTINCT pages of the same host — nav
    bars, cookie banners, footers — and is then dropped from EVERY
    page of that host (no first-occurrence survivor: template text is
    noise wherever it appears).  Lines repeated across hosts but rare
    within each host are kept, which is what distinguishes this from
    the global rule.

    Scale shape: posexplode → one partial-aggregable
    ``countDistinct(doc_id)`` groupBy on (host, line); the surviving
    boilerplate set is tiny relative to the corpus (templates per
    host, not pages), so the flag join back is AQE-broadcastable per
    host; then one ordered-reassembly groupBy on doc_id.  Hosts are
    the unit of skew — megadomains ride the same salted-repartition
    policy as every other per-host stage (plans/pipeline.py).

    Returns (doc_id, text_clean, n_lines, n_removed); documents whose
    every line is template text survive with ``text_clean = ''``.
    """
    lines = docs.select(
        "doc_id",
        F.expr(f"parse_url({url_col}, 'HOST')").alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    boiler = (lines.groupBy("host", "line")
              .agg(F.countDistinct("doc_id").alias("n_docs"))
              .where(F.col("n_docs") >= min_docs)
              .select("host", "line", F.lit(True).alias("is_b")))
    flagged = (lines.join(boiler, ["host", "line"], "left")
               .select("doc_id", "pos", "line",
                       F.coalesce("is_b", F.lit(False)).alias("is_b")))
    return (flagged.groupBy("doc_id").agg(
        F.expr("array_join(transform(filter(array_sort(collect_list("
               "struct(pos, line, is_b))), s -> not s.is_b), "
               "s -> s.line), '\n')").alias("text_clean"),
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("is_b").cast("bigint")).cast("bigint")
         .alias("n_removed")))


def duplicated_ngrams(docs: DataFrame, k: int = 8,
                      text_col: str = "text") -> DataFrame:
    """Per-document corpus-duplication signal in the style of exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"), approximated at k-token
    granularity: every token position starts a k-gram, and a position
    counts as DUPLICATED when its k-gram occurs anywhere else in the
    corpus (the corpus-first occurrence by (doc_id, pos) stays
    original).  A curation run drops or trims documents above a
    dup_frac threshold.  Returns (doc_id, n_grams, n_dup, dup_frac);
    documents shorter than k tokens emit no row.

    Scale shape — no suffix array, no global sort: position k-grams
    are hashed to 60-bit longs map-side, the per-hash stats are ONE
    partial-aggregable groupBy (count + min of an integer-encoded
    (doc_id, pos) key), flagged positions come back via a single
    equi-join on the hash, and the per-doc rollup combines map-side.
    Three narrow shuffles total, each carrying 8-byte keys."""
    parts = " || ' ' || ".join(f"element_at(t, i + {d})" for d in range(k))
    grams = (
        docs.selectExpr("doc_id", f"{tokens_expr(text_col)} as t")
        .selectExpr(
            "doc_id",
            f"posexplode(case when size(t) >= {k} then "
            f"transform(sequence(1, size(t) - {k - 1}), i -> {parts}) "
            "else array() end) as (pos, gram)")
        .selectExpr("doc_id", "pos", f"{H('gram')} as h")
    )
    grams = _materialize(grams)  # both sides of the flag join
    # first occurrence as ONE bigint (pos < 2^20 by construction here;
    # the encoding only has to be order-isomorphic and engine-mirrored)
    stats = grams.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.expr("doc_id * 1048576 + pos")).alias("first_key"))
    return (
        grams.join(stats, "h")
        .selectExpr(
            "doc_id",
            "cast(cnt > 1 and doc_id * 1048576 + pos <> first_key as int) as dup")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("dup").alias("n_dup"))
        .selectExpr("doc_id", "cast(n_grams as bigint) as n_grams",
                    "cast(n_dup as bigint) as n_dup",
                    "round(n_dup / n_grams, 6) as dup_frac")
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): weighted-token sign fingerprint.

    Round-6 shape: the fingerprint is a PER-DOCUMENT function (token
    counts × md5-derived sign vectors, all integer arithmetic), so it
    runs as one zero-shuffle Arrow kernel — the previous declarative
    form exploded the token stream and shuffled it twice (the
    (doc, token) weight groupBy plus the per-doc sum groupBy: ~7.6M
    narrow rows each at sf1) and computed one JVM md5 per distinct
    (doc, token) pair.  The kernel batches the bit-sign sums through
    numpy (one reduceat over the distinct texts of an Arrow batch,
    ``util.per_distinct``) and memoizes token → hash per batch (Zipf: a
    batch's vocabulary is ~10× smaller than its token stream).
    Bit-exact vs the SQL form: the hash is the same H() (first 15 md5
    hex digits as int), weights are exact counts, sums are integers,
    and ``bit set ⇔ sum > 0`` — pinned by
    ``test_simhash_matches_sql_form``."""
    mask = (1 << bits) - 1

    def run(batches, out):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        shifts = np.arange(bits, dtype=np.uint64)
        for batch in batches:
            # SQL twin: explode(split(null)) emits no token rows, so a
            # doc with null text is absent from the aggregate
            batch = batch.filter(pc.is_valid(batch.column("text")))
            hmemo: dict = {}      # token -> hash, per batch

            def weighted(key):
                """(token hashes, token counts) of one distinct text."""
                cnt = Counter(key[0].split(" "))
                hs = []
                for t in cnt:
                    h = hmemo.get(t)
                    if h is None:
                        h = hmemo[t] = _h60(t) & mask
                    hs.append(h)
                return hs, list(cnt.values())

            u, take = per_distinct([batch.column("text")], weighted)
            # tokens × bits sign contributions, summed per DISTINCT text
            # in one reduceat; split(' ') of a non-null text is never
            # empty, so every slice is non-empty
            sim = np.zeros(0, dtype=np.int64)
            if u:
                n = np.array([len(hs) for hs, _ in u], dtype=np.int64)
                h_arr = np.fromiter(chain.from_iterable(hs for hs, _ in u),
                                    np.uint64, n.sum())
                w_arr = np.fromiter(chain.from_iterable(ws for _, ws in u),
                                    np.int64, n.sum())
                bits_m = ((h_arr[:, None] >> shifts) & np.uint64(1)
                          ).astype(np.int64)
                contrib = (2 * bits_m - 1) * w_arr[:, None]
                sums = np.add.reduceat(contrib, np.cumsum(n) - n, axis=0)
                sim = ((sums > 0).astype(np.uint64)
                       << shifts[None, :]).sum(axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [_cast(batch.column("doc_id"), pa.int64()),
                 _onto_rows(sim, take, pa.int64())], schema=out)

    return map_in_arrow(docs.select("doc_id", "text"), run,
                        "doc_id bigint, simhash bigint")


def connected_components(pairs: DataFrame, nodes: DataFrame | None = None,
                         max_iter: int = 25) -> DataFrame:
    """(node, comp): connected components of the near-duplicate pair
    graph; comp = the smallest node id in the component.  ``nodes``
    optionally supplies the full id universe so isolated documents get
    singleton components (comp = own id).

    This is the LAST stage of a production dedup pipeline: pair lists
    (minhash/simhash/cosine) → duplicate CLUSTERS → one canonical doc
    per cluster (see ``dedup_keep``).

    Scale shape: min-label propagation with pointer jumping — each
    round is two equi-joins + a partial-agg min (neighbor minimum over
    the self-loop-augmented edge list, then comp-of-comp), giving
    O(log n) rounds on chains instead of O(n); near-dup clusters are
    dense, so in practice 2-3 rounds converge.  Convergence detection
    rides an ``observe()`` metric collected DURING each round's
    checkpoint job — labels are monotone non-increasing, so the sum of
    comps is a fixpoint signature (equal sums ⇔ no label moved); no
    separate count job per round, and no old-comp column carried
    through the round just to compare (round-6)."""
    from pyspark.sql import Observation

    # the fixpoint signature sums comp ids as decimal(38,0): exact
    # integer arithmetic with no bigint overflow however many nodes /
    # however large the ids (sum(long) would overflow under ANSI at
    # real scale)
    sig_expr = F.sum(F.col("comp").cast("decimal(38,0)")).alias("sig")
    # one pass over pairs: the symmetric closure rides a map-side
    # 2-way explode instead of union(pairs, pairs-swapped), whose two
    # branches would each recompute the (possibly expensive, uncached)
    # pair pipeline — the round-6 webtext audit measured the minhash
    # verify running twice inside this materialize.  No distinct():
    # every in-repo pair producer already emits distinct (a, b) rows,
    # and min-label propagation is duplicate-tolerant anyway — the
    # groupBy mins collapse repeats MAP-SIDE (partial aggregation),
    # so the old edges.distinct() paid a full extra shuffle of the
    # edge table to remove rows the aggregates absorb for free.
    edges = _materialize(pairs.selectExpr(
        "explode(array(struct(a as u, b as v), "
        "struct(b as u, a as v))) as e").select("e.u", "e.v"))
    # initial labels already carry round 0's neighbor minimum: comp =
    # least(self, min neighbor) falls out of ONE groupBy over edges
    # (which also de-duplicates nodes), replacing the old distinct +
    # first full join round — any correct intermediate state of
    # min-label propagation converges to the same fixpoint, so the
    # output is unchanged
    labels = (edges.groupBy("u").agg(F.min("v").alias("m"))
              .selectExpr("u as node", "least(u, m) as comp"))
    if nodes is not None:
        # isolated ids (never in a pair): comp = own id is their
        # fixpoint; left_anti keeps the edge nodes' head start
        iso = (nodes.selectExpr(f"{nodes.columns[0]} as node").distinct()
               .join(labels.select("node"), "node", "left_anti")
               .withColumn("comp", F.col("node")))
        labels = labels.unionByName(iso)
    # materialize the init: round 0 references `labels` three times
    # (neighbor join, self-loop side, pointer side) — unmaterialized,
    # the init aggregate (and the iso anti-join) would run once per
    # reference inside round 0's plan (round-6 audit; exchange reuse
    # dedupes only the shuffle, not the aggregates above it).  The
    # init signature rides the same checkpoint job.
    obs0 = Observation()
    labels = (labels.observe(obs0, sig_expr)
              .localCheckpoint(eager=True))
    prev_sig = obs0.get["sig"]
    for _ in range(max_iter):
        # neighbor minimum over edges ∪ self-loops: the self-loop side
        # (one (n, n) row per labeled node, a map-side union of two
        # materialized frames) makes the groupBy min yield
        # least(own comp, min neighbor comp) directly — the old
        # labels-to-nbr left join existed only to mix own comp back in
        # and is gone.  (Plan growth is bounded by the ONE
        # localCheckpoint at the end of each round — the iterated
        # self-referencing joins otherwise grow the plan exponentially
        # and OOM the DRIVER during analysis; a real cluster job would
        # use a reliable checkpoint dir instead.)
        esl = edges.union(labels.selectExpr("node as u", "node as v"))
        stepped = (esl.join(labels.withColumnRenamed("node", "v"), "v")
                   .groupBy("u").agg(F.min("comp").alias("c")))
        # pointer jumping: comp <- comp(comp)
        ptr = labels.selectExpr("node as c", "comp as jumped")
        obs = Observation()
        new = (stepped.join(ptr, "c", "left")
               .selectExpr("u as node",
                           "least(c, coalesce(jumped, c)) as comp")
               .observe(obs, sig_expr)
               .localCheckpoint(eager=True))
        sig = obs.get["sig"]
        labels = new
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels.selectExpr("node", "comp")


def dedup_keep(docs: DataFrame, pairs: DataFrame,
               id_col: str = "doc_id") -> DataFrame:
    """(doc_id, component, keep): canonical-representative selection —
    keep exactly one doc (the smallest id) per duplicate cluster; the
    downstream training corpus filters on ``keep``."""
    comp = connected_components(pairs, nodes=docs.select(id_col))
    return comp.selectExpr(
        f"node as {id_col}", "comp as component",
        "node = comp as keep")


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      bits: int = 32) -> DataFrame:
    """(a, b, hamming ≤ max_hamming): SimHash near-dup pairs.

    Round-6 shape — two exact reductions on top of the plain
    chunk-pigeonhole self-join (which emitted one candidate row per
    shared 8-bit chunk: measured 618M candidate rows for a 26.6M-pair
    answer at sf1):

    1. VALUE COLLAPSE.  Candidate-ship and hamming depend only on the
       simhash VALUE, so the index is built over DISTINCT values
       (sf1: 49.6k values for 76.7k docs, classes up to 83 docs) and
       doc pairs are recovered afterwards by expansion — cross-class
       pairs inherit the value pair's hamming, same-value classes
       contribute their m·(m-1)/2 pairs at hamming 0 (trivially
       candidates: equal values share every chunk).  Dense buckets
       shrink QUADRATICALLY (sf1: Σ n_b² 1.24G → Σ d_b² 0.37G).
    2. MULTI-INDEX PROBES (multi-index Hamming search: Norouzi et al.
       2012; HmSearch): split the ``bits`` into g groups such that
       2g-1 ≥ max_hamming; a qualifying pair has ≤1 differing bit in
       SOME group (pigeonhole), so an equi-join of exact group keys
       against {key} ∪ {key ^ bit} probes finds every pair while
       requiring (width-1)-of-width bit agreement — far more selective
       than 8-bit chunk equality (sf1: 68M candidate rows vs 618M).

    Exactness rests on the group count derived from ``max_hamming``
    alone.  The bit_count filter runs map-side before
    the value-pair distinct (filter∘distinct = distinct∘filter), so
    the only wide exchanges carry value pairs and the output itself."""
    sh = _materialize(simhash(docs, bits))   # (doc_id, simhash): reused
    # materialized: feeds the probe AND exact index sides (and gives
    # AQE the true ~|values| size so the index join broadcasts)
    vals = _materialize(sh.select("simhash").distinct())
    # g groups of ~bits/g; 1-bit probes cover hamming <= 2g-1
    g = max_hamming // 2 + 1
    widths = [bits // g + (1 if i < bits % g else 0) for i in range(g)]
    offs = [sum(widths[:i]) for i in range(g)]
    exact_entries, probe_entries = [], []
    for h, (w, o) in enumerate(zip(widths, offs)):
        key = f"(shiftright(simhash, {o}) & {(1 << w) - 1})"
        exact_entries.append(f"struct({h} as h, {key} as key)")
        probe_entries.append(exact_entries[-1])
        probe_entries.extend(
            f"struct({h} as h, ({key} ^ {1 << b}) as key)"
            for b in range(w))

    def index(entries):     # (simhash, h, key): one row per entry
        return vals.selectExpr(
            "simhash", f"explode(array({', '.join(entries)})) as e"
        ).selectExpr("simhash", "e.h as h", "e.key as key")

    exact, probe = index(exact_entries), index(probe_entries)
    vpairs = (
        probe.alias("l").join(exact.alias("r"), ["h", "key"])
        .filter(F.col("l.simhash") < F.col("r.simhash"))
        .select(F.col("l.simhash").alias("a"),
                F.col("r.simhash").alias("b"),
                F.expr("cast(bit_count(l.simhash ^ r.simhash) as bigint)")
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # materialized: the candidate stage (the expensive one) must run
    # exactly once and hand AQE its true size before the expansion joins
    return _expand_classes(_materialize(vpairs), sh, "simhash",
                           "cast(0 as bigint)")
