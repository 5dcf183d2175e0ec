"""Deduplication over ``documents``: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (the whole point of these operators at 100 TB):
  * NO all-pairs crossJoin anywhere. Every candidate-pair step is an
    equi-join on a *bucket key* -- an LSH band signature, a SimHash
    sketch, or a blocking key -- so the shuffle is keyed and the pair
    space is the per-bucket square, not the corpus square.
  * Hashes are md5 hex strings: uniform, engine-independent, and
    lexicographically comparable -- which is what lets a DuckDB oracle
    verify the exact same LSH algorithm end-to-end.
  * Verification (exact Jaccard) runs only on surviving candidates.

One copy of each set-similarity step, which every dedup-tier query
(here and in the ``staged_r*`` modules) calls: ``functions.text.jaccard``
is the only Jaccard score, :func:`shingle_sets` the only word-3-shingle
set projection, :func:`minhash_band_rows` the only (doc, band, sig) row
build, and :func:`simhash_word_pairs` the only simhash-blocked word-set
pair builder. On the oracle side, :func:`_minhash_bands_sql` is the
only shingle + minhash band SQL, :func:`_simhash_sketch_sql` the only
sketch SQL and :func:`_ngram_pair_ctes` the only n-gram pair CTE chain,
each n-gram oracle built by the function that also builds its
sf-adaptive variant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.text import (
    STOPWORDS,
    jaccard,
    tokens,
    word_shingles,
)
from clueso_spark.functions.vectors import (
    cosine_similarity,
    lsh_bucket,
    squared_norm,
    to_double_array,
)
from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.sources.tables import (
    load_table,
    load_table_spread,
    table_row_count,
)

N_BANDS = 8

#: shared per-session persist bookkeeping now lives in plans.catalog
#: (persist_swap) so every plan module can use it without import
#: cycles; keep the historical local name as an alias.
_persist_swap = persist_swap


#: degenerate-bucket guard for _bucket_pairs(cap=...): above this size a
#: bucket emits a STAR (every member paired with the bucket minimum,
#: O(b) rows) instead of all combinations (O(b^2)). Adaptive band
#: widths keep EXPECTED buckets small, but one mass-duplicated
#: boilerplate family -- a certainty in a web-scale crawl -- would
#: otherwise concentrate the full quadratic expansion in a single task.
#: A bucket past this size is a near-certain 100%-dup family, and the
#: star keeps exactly the rows downstream dedup needs: each member is
#: verified against one shared representative, so exact-similarity
#: verification still confirms every member and connected components /
#: keep-best still unify the family. Sized far above every measured
#: bucket at the oracle SFs (max 63 at sf0.1), so capped callers are
#: bit-identical to their DuckDB oracles everywhere parity runs;
#: tests/test_bucket_cap.py plants a pathological bucket to pin
#: the star behavior itself.
LSH_BUCKET_CAP = 256


def _bucket_pairs(
    long: DataFrame,
    keys: list[str],
    id_col: str,
    a: str,
    b: str,
    cap: int | None = None,
) -> DataFrame:
    """Candidate pairs from bucket-key rows via ONE keyed shuffle: group
    each bucket, emit the per-bucket pair combinations (id-ordered, so
    ``a < b`` by construction). A self-join on the bucket key would
    re-evaluate the (often expensive) sketch projection on both
    branches; this evaluates it once. Per-bucket pair fan-out is the LSH
    contract -- buckets stay small for honest sketch/band parameters.

    ``cap``: when set, buckets larger than ``cap`` fall back to a STAR
    expansion (see LSH_BUCKET_CAP). Dup-detection callers pass it;
    similarity-search callers (sim_knn_join / sim_range_search) must
    NOT -- their contract is every in-radius pair among candidates, so
    dropped combinations there are silent recall loss, and their guard
    is the measured candidate-volume observation in SCALE.md instead.
    Note the per-bucket collect_set row itself stays O(b) -- one
    aggregation buffer, the same order as any keyed groupBy under skew
    -- the cap removes the O(b^2) *expansion*, which is what turns one
    hot bucket into a runaway task."""
    all_pairs = F.expr(
        f"""flatten(transform(sequence(1, size(ds) - 1),
             i -> transform(sequence(i + 1, size(ds)),
               j -> struct(element_at(ds, i) as {a},
                           element_at(ds, j) as {b}))))"""
    )
    if cap is None:
        pairs = all_pairs
    else:
        star = F.expr(
            f"""transform(slice(ds, 2, size(ds) - 1),
                 x -> struct(element_at(ds, 1) as {a}, x as {b}))"""
        )
        pairs = F.when(F.size("ds") > cap, star).otherwise(all_pairs)
    return (
        long.groupBy(*keys)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ds"))
        .where(F.size("ds") > 1)
        .select(F.explode(pairs).alias("p"))
        .select(f"p.{a}", f"p.{b}")
    )


@register(
    "dedup_exact_summary",
    "Exact-dup profile in one pass: total docs, distinct raw texts, "
    "distinct normalized texts, duplicate-group count (md5 hash groupBy; "
    "the 100 TB shape -- hash once, aggregate, never compare strings).",
    """
    with h as (select md5(lower(trim(text))) as fp, text from documents)
    select cast(count(*) as bigint) as n_docs,
           cast(count(distinct text) as bigint) as n_distinct_raw,
           cast(count(distinct fp) as bigint) as n_distinct_norm,
           cast(count(*) - count(distinct fp) as bigint) as n_dup_rows
    from h
    """,
    "dedup", "exact",
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(fp.alias("fp"), "text").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("text").cast("bigint").alias("n_distinct_raw"),
        F.count_distinct("fp").cast("bigint").alias("n_distinct_norm"),
        (F.count("*") - F.count_distinct("fp")).cast("bigint").alias("n_dup_rows"),
    )


def _minhash_bands_sql(
    extra: str = "", r: str = "b", name: str = "bands", indent: str = ""
) -> str:
    """DuckDB replica of :func:`shingle_sets` + :func:`minhash_band_rows`
    over a ``t(doc_id, w, ...)`` CTE: ``sh`` holds the distinct
    (doc, shingle) rows and ``name`` the (doc, band, sig) rows of the
    minhash_band_sigs family. ``extra`` columns ride along, ``r`` names
    the band range (``bb`` where ``b`` is a column), and ``indent``
    prefixes every line after the first, so each oracle that embeds
    the CTEs keeps its text byte for byte."""
    cols = f"doc_id, {extra}" if extra else "doc_id"
    sql = f"""sh as (
  select distinct {cols},
         unnest(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingle
  from t where len(w) >= 3
),
{name} as (
  select {cols}, {r}.range as band,
         min(substr(md5(shingle) || md5('~' || shingle)
                    || md5('#' || shingle) || md5('@' || shingle),
                    cast({r}.range * 16 + 1 as int), 8))
         || min(substr(md5(shingle) || md5('~' || shingle)
                       || md5('#' || shingle) || md5('@' || shingle),
                       cast({r}.range * 16 + 9 as int), 8)) as sig
  from sh cross join range({N_BANDS}) {r}
  group by {cols}, {r}.range
)"""
    return sql.replace("\n", "\n" + indent)


_MINHASH_ORACLE = f"""
with t as (select doc_id, string_split(text, ' ') w from documents),
{_minhash_bands_sql()},
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b on a.band = b.band and a.sig = b.sig
                           and a.doc_id < b.doc_id
),
sets as (select doc_id, list(shingle) ss from sh group by doc_id)
select doc_a, doc_b,
       len(list_intersect(x.ss, y.ss))::double
         / len(list_distinct(x.ss || y.ss)) as jaccard
from cand join sets x on doc_a = x.doc_id
          join sets y on doc_b = y.doc_id
where len(list_intersect(x.ss, y.ss))::double
        / len(list_distinct(x.ss || y.ss)) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    f"MinHash+LSH near-dedup: word-3-shingles -> {N_BANDS} banded minhash "
    "signatures -> equi-join on (band, sig) for candidates -> exact "
    "Jaccard >= 0.5 verification. The candidate join is keyed (no "
    "CartesianProduct node); at 100 TB the band shuffle is the only "
    "corpus-wide movement.",
    _MINHASH_ORACLE,
    "dedup", "minhash", "lsh",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row signature computation: shingle set + 8 band minhashes are
    # pure Column algebra (array_distinct / transform / array_min) -- NO
    # shuffle happens until the candidate equi-join itself. At 100 TB this
    # is one narrow scan followed by one keyed shuffle on (band, sig).
    # single-file local scans get 1 task; load_table_spread spreads
    # the (interpreted, HOF-heavy) shingle+hash projection across all
    # cores, and skips the shuffle where the scan is already wide.
    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    return minhash_pairs(spark, docs)


def minhash_band_sigs(ss_col: str = "ss") -> Column:
    """The 8 r=2 banded minhash signatures of a shingle-set column as ONE
    array fold (see the inline rationale in minhash_pairs: 4 md5s per
    shingle in argument position, minima paired into band sigs while the
    accumulator is still a lambda variable). Factored so asymmetric
    consumers -- the staged incremental index-probe dedup -- share the
    exact signature family the registered oracle replicates."""
    return F.expr(
        f"""aggregate(
             transform({ss_col}, s -> concat(md5(s), md5(concat('~', s)),
                                       md5(concat('#', s)), md5(concat('@', s)))),
             array_repeat('g', 16),
             (acc, h) -> zip_with(acc,
               transform(sequence(0, 15),
                         k -> substring(h, cast(k * 8 + 1 as int), 8)),
               (m, c) -> least(m, c)),
             acc -> transform(sequence(0, {N_BANDS - 1}),
               b -> concat(element_at(acc, cast(2 * b + 1 as int)),
                           element_at(acc, cast(2 * b + 2 as int)))))"""
    )


def shingle_sets(docs: DataFrame, *extra: str | Column) -> DataFrame:
    """Distinct word-3-shingle sets ``(doc_id, *extra, ss)`` of a
    ``(doc_id, w)`` tokenized relation. Docs under 3 words have no
    shingle and are dropped up front (cheap pre-filter); ``extra``
    columns ride along (a split key, a snapshot bucket)."""
    return docs.where(F.size("w") >= 3).select(
        "doc_id", *extra, F.array_distinct(word_shingles("w", 3)).alias("ss")
    )


def minhash_band_rows(sets: DataFrame, *extra: str) -> DataFrame:
    """One ``(doc_id, *extra, band, sig)`` row per band of each shingle
    set: the :func:`minhash_band_sigs` fold, then a posexplode. The
    rows carry no shingle payload -- the 8x explode must NOT carry the
    shingle arrays, or the band shuffle payload multiplies by 8."""
    sigs = sets.select("doc_id", *extra, minhash_band_sigs().alias("sigs"))
    return sigs.select(
        "doc_id", *extra, F.posexplode("sigs").alias("band", "sig")
    )


def minhash_pairs(
    spark: SparkSession, docs: DataFrame, slot: str = "minhash_sets"
) -> DataFrame:
    """Core MinHash+LSH pair pipeline over any ``(doc_id, w)`` tokenized
    relation -> verified ``(doc_a, doc_b, jaccard)`` pairs.

    Taking the tokenized relation (rather than a path) lets composed
    pipelines -- pipeline_pretraining_funnel -- feed their already
    persisted token projection instead of re-scanning and re-tokenizing
    the corpus for the near-dedup stage (at 100 TB that second full
    corpus scan is the single largest avoidable cost in the funnel).
    ``slot`` names the persist slot so a composed caller and the
    standalone query never evict each other's intermediates.
    """
    # two consumers read the shingle sets (the band branch below and the
    # verification join at the end); persist so tokenize+shingle runs
    # ONCE instead of twice (per-session slot bookkeeping: _persist_swap)
    sets = _persist_swap(spark, slot, shingle_sets(docs))
    # hash every shingle FOUR times (4 x 32 hex = 16 disjoint 8-hex
    # slices); each band ANDs r=2 independent minhashes (min over two
    # slices, concatenated) -- 4 md5 + 16 substrings per shingle, not 16
    # md5s. r matters as much as slice width: with r=1 a single shared
    # shingle that happens to be both docs' band-min makes them
    # candidates, and the S-curve threshold sits at (1/b)^(1/r) = 0.125
    # -- measured 83k candidates at sf0.1 of which only 256 verified.
    # r=2 squares the per-band collision probability (threshold 0.35),
    # cutting false candidates ~J-fold per band while keeping
    # 1-(1-J^2)^8 = 99.97% recall at the J >= 0.8 pairs this corpus
    # actually contains.
    # ALL 16 slice-minima come out of ONE fold whose md5 transform sits
    # in ARGUMENT position (evaluated once per row): referencing a
    # hashed-shingle column from inside HOF lambdas re-inlines the md5
    # chain per element (HOFs evaluate interpreted, no subexpression
    # cache -- measured 28x slower); the fold's lambdas touch only the
    # accumulator and the element, so each shingle is hashed exactly 4
    # times. 'g' sorts after every hex digit, so it is the fold's +inf.
    # the finish lambda pairs up the 16 minima into the 8 r=2 band sigs
    # while `acc` is still a lambda variable -- pairing in a later
    # projection would reference the fold column 8-16 times and re-inline
    # (re-run) the whole fold per reference
    long = minhash_band_rows(sets)
    # candidate pairs via ONE shuffle on (band, sig); distinct because a
    # pair can collide in several bands
    cand = _bucket_pairs(
        long, ["band", "sig"], "doc_id", "doc_a", "doc_b", cap=LSH_BUCKET_CAP
    ).distinct()
    # verification: melt each pair into (pair, doc_id) rows and join the
    # shingle sets back ONCE (a second join branch would re-evaluate the
    # whole shingle projection); min_by/max_by reassemble the pair's two
    # sets (doc_a < doc_b by construction).
    melted = cand.select(F.struct("doc_a", "doc_b").alias("pair")).select(
        "pair",
        F.explode(F.array("pair.doc_a", "pair.doc_b")).alias("doc_id"),
    )
    joined = melted.join(sets, "doc_id").groupBy("pair").agg(
        F.min_by("ss", "doc_id").alias("ss_a"),
        F.max_by("ss", "doc_id").alias("ss_b"),
    )
    return joined.select(
        F.col("pair.doc_a").alias("doc_a"),
        F.col("pair.doc_b").alias("doc_b"),
        jaccard("ss_a", "ss_b").alias("jaccard"),
    ).where(F.col("jaccard") >= 0.5)


#: md5 salts for sketch widths past one digest's 32 nibbles (widths up
#: to 128 bits -- corpora up to ~2^128 docs); same salt family as the
#: minhash slice hashes.
_SKETCH_SALTS = ("", "~", "#", "@")


def _simhash_sketches(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-doc ``bits``-wide simhash over the distinct word set as
    ``(doc_id, simhash)``. Bit j's weight is the sign of nibble j of the
    doc word's (salted) md5 -- deterministic and engine-independent,
    which is what lets a DuckDB oracle reproduce the sketch bit-for-bit.

    Pure per-row Column algebra: md5 each distinct word once per needed
    32-nibble block, then a single array-accumulator fold sums all
    ``bits`` weights in one pass. ZERO shuffle -- the previous explode +
    per-bit-sum groupBy shuffled one row per (doc, word); at 100 TB that
    was the corpus's entire token stream through the exchange (measured
    0.62 -> 0.46 s at sf0.1, identical bits)."""
    n_md5 = -(-bits // 32)
    if n_md5 > len(_SKETCH_SALTS):
        raise ValueError(f"sketch width {bits} > {32 * len(_SKETCH_SALTS)} bits")
    digests = [
        "md5(wd)" if s == "" else f"md5(concat('{s}', wd))"
        for s in _SKETCH_SALTS[:n_md5]
    ]
    hx = digests[0] if n_md5 == 1 else "concat(" + ", ".join(digests) + ")"
    fold = F.expr(
        f"aggregate(transform(array_distinct(w), wd -> {hx}), "
        f"array_repeat(0, {bits}), "
        "(acc, h) -> zip_with(acc, "
        f"transform(sequence(1, {bits}), i -> case when "
        "instr('0123456789abcdef', substring(h, i, 1)) - 1 >= 8 "
        "then 1 else -1 end), (a, b) -> a + b))"
    )
    sbits = F.expr(
        "array_join(transform(_sums, s -> case when s >= 0 then '1' "
        "else '0' end), '')"
    )
    return docs.select("doc_id", fold.alias("_sums")).select(
        "doc_id", sbits.alias("simhash")
    )


def _simhash_sketch_sql(bits: int = 16) -> str:
    """DuckDB replica of :func:`_simhash_sketches` as the ``words`` /
    ``sums`` / ``sk`` CTEs: bit j's weight is the sign of nibble j of
    the salted-md5 concatenation (md5(word) || md5('~'||word) || ...),
    so the sketch string is bit-for-bit identical to the Spark side at
    any width the engine can produce. The 16-bit default is the
    sketch dedup_simhash and the ngram floor oracles replicate; width
    parity is pinned at 32 and 48 bits by
    tests/test_adaptive_oracles.py."""
    n_md5 = -(-bits // 32)
    if n_md5 > len(_SKETCH_SALTS):
        raise ValueError(
            f"sketch width {bits} > {32 * len(_SKETCH_SALTS)} bits"
        )
    digests = [
        "md5(word)" if s == "" else f"md5('{s}' || word)"
        for s in _SKETCH_SALTS[:n_md5]
    ]
    hx = digests[0] if n_md5 == 1 else " || ".join(digests)
    sums = ", ".join(
        f"sum(case when strpos('0123456789abcdef', "
        f"substr({hx}, {j + 1}, 1)) - 1 >= 8 then 1 else -1 end) as s{j}"
        for j in range(bits)
    )
    bitstr = (
        "concat("
        + ", ".join(
            f"case when s{j} >= 0 then '1' else '0' end"
            for j in range(bits)
        )
        + ")"
    )
    return f"""
words as (
  select distinct doc_id, unnest(string_split(text, ' ')) as word from documents
),
sums as (
  select doc_id, {sums}
  from words group by doc_id
),
sk as (select doc_id, {bitstr} as simhash from sums)
"""


_SIMHASH_ORACLE = f"""
with {_simhash_sketch_sql()}
select simhash,
       cast(count(*) as bigint) as n_docs,
       string_agg(doc_id, ',' order by doc_id) as doc_ids
from sk group by simhash having count(*) > 1
"""


@register(
    "dedup_simhash",
    "SimHash near-dedup: 16-bit nibble-level simhash over the distinct "
    "word set (md5-derived, engine-independent); docs sharing a sketch "
    "are duplicate candidates. One groupBy on the sketch -- the cheapest "
    "possible near-dup pass at scale.",
    _SIMHASH_ORACLE,
    "dedup", "simhash",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    return (
        _simhash_sketches(docs)
        .groupBy("simhash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x as string)), ',')"
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


#: word-set simhash blocking key for the n-gram Jaccard path: FLOOR
#: width (= the width the fixed DuckDB oracle replicates) and the
#: per-bucket population target that scales it. A fixed 16-bit sketch
#: is 65,536 buckets forever -- at 10 B docs the expected bucket holds
#: ~150 k docs and per-bucket pair expansion is O((N/65536)^2), the
#: same fixed-cardinality failure _emb_planes cures for the embedding
#: path. Width therefore grows ~log2(N / target): bucket count scales
#: with the corpus, capping expected RANDOM-collision population at
#: NGRAM_TARGET_BUCKET (true near-dup clusters still share a bucket --
#: word-set simhash bits are stable under small set edits, though each
#: extra bit trims block recall slightly; multi-band OR-amplification
#: is the standard recall knob if a deployment needs it). The floor
#: keeps corpora <= 2^16 * target (~2 M docs; every oracle gate) on the
#: exact sketch family the DuckDB oracle replicates -- oracle_valid
#: guards the parity harness past that.
NGRAM_SKETCH_BITS = 16
NGRAM_TARGET_BUCKET = 32


def _ngram_bits(n_docs: int) -> int:
    return max(
        NGRAM_SKETCH_BITS,
        math.ceil(math.log2(max(n_docs / NGRAM_TARGET_BUCKET, 2.0))),
    )


def _ngram_adaptive_bits(sf_dir: str) -> int:
    """The sketch width the Spark side derives for this corpus."""
    return _ngram_bits(table_row_count(sf_dir, "documents"))


#: per-corpus cache for the bucket-cap domain check below -- the check
#: computes the full word-set sketch in DuckDB once per corpus, which
#: is cheap at the driver's sf0.01 gate but worth not repeating across
#: a parity sweep's many guarded queries. Keyed on the resolved path
#: PLUS the parquet (mtime_ns, size) fingerprint: 'dir' vs 'dir/' must
#: not compute twice, and a corpus regenerated in place at the same
#: path must not return a stale verdict -- a stale True could silently
#: run a full-fanout oracle against a capped Spark plan (ADVICE r13).
_NGRAM_CAP_DOMAIN: dict[tuple, bool] = {}


def _ngram_bucket_cap_ok(sf_dir: str) -> bool:
    """Second half of the ngram-family oracle domain: the registered
    oracles emit FULL per-bucket pair fan-out, but the Spark side caps
    buckets at LSH_BUCKET_CAP with a star-expansion fallback
    (_bucket_pairs(cap=...)). The two agree exactly iff no sketch
    bucket exceeds the cap. The round-13 sf0.1 sweep caught the gap:
    at 5,000 docs the largest near-dup family outgrows 256, Spark
    star-expands (50,364 pairs) while the oracle emits the quadratic
    fan-out (722,274 rows) -- a DOMAIN edge, not an engine defect, and
    exactly the behavior the cap documents. Checked by computing the
    oracle's own sketch in DuckDB and taking the max bucket size."""
    import os

    path = os.path.realpath(f"{sf_dir.rstrip('/')}/documents.parquet")
    try:
        stat = os.stat(path)
        key = (path, stat.st_mtime_ns, stat.st_size)
    except OSError:
        key = (path, 0, 0)
    cached = _NGRAM_CAP_DOMAIN.get(key)
    if cached is not None:
        return cached
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(
            "create or replace view documents as "
            f"select * from '{path}'"
        )
        biggest = con.sql(
            f"with {_simhash_sketch_sql(NGRAM_SKETCH_BITS)} "
            "select max(c) from "
            "(select count(*) as c from sk group by simhash)"
        ).fetchone()[0]
    finally:
        con.close()
    ok = (biggest or 0) <= LSH_BUCKET_CAP
    _NGRAM_CAP_DOMAIN[key] = ok
    return ok


def _ngram_oracle_valid(sf_dir: str) -> bool:
    """The registered oracles replicate the 16-bit floor sketch with
    FULL bucket fan-out; the domain is (a) the adaptive width still at
    the floor (past ~2 M docs the Spark side widens) AND (b) every
    bucket within LSH_BUCKET_CAP (above it the Spark side
    star-expands). Outside either, the parity harness falls back to a
    rows-only check."""
    return (
        _ngram_adaptive_bits(sf_dir) == NGRAM_SKETCH_BITS
        and _ngram_bucket_cap_ok(sf_dir)
    )


def _ngram_pair_ctes(
    bits: int = NGRAM_SKETCH_BITS, capped: bool = False
) -> str:
    """The n-gram Jaccard ``pairs`` CTE chain: word-set simhash sketch
    (:func:`_simhash_sketch_sql`) -> same-sketch candidates -> exact
    word-set Jaccard >= 0.8. ``capped=False`` is the registered floor
    form (plain self-join candidates, domain-guarded by
    :func:`_ngram_oracle_valid`); ``capped=True`` replicates the Spark
    side's bucket-cap star expansion (:func:`_capped_pairs_sql`), so
    the adaptive oracles match at ANY bucket population and width."""
    if capped:
        cand = _capped_pairs_sql(
            "sk", "simhash", "doc_id", "doc_a", "doc_b", LSH_BUCKET_CAP
        )
    else:
        cand = """cand as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sk a join sk b on a.simhash = b.simhash and a.doc_id < b.doc_id
)"""
    return f"""{_simhash_sketch_sql(bits)},
{cand},
s as (select doc_id, list_distinct(string_split(text, ' ')) ws
      from documents),
pairs as (
  select doc_a, doc_b,
         len(list_intersect(x.ws, y.ws))::double
           / len(list_distinct(x.ws || y.ws)) as jaccard
  from cand join s x on doc_a = x.doc_id
            join s y on doc_b = y.doc_id
  where len(list_intersect(x.ws, y.ws))::double
          / len(list_distinct(x.ws || y.ws)) >= 0.8
)"""


def word_sets(spark: SparkSession, sf_dir: str, slot: str) -> DataFrame:
    """The corpus' distinct word sets ``(doc_id, ws)``, persisted in
    ``slot``: THREE consumers read them (the sketch branch and both
    sides of :func:`simhash_word_pairs`' attach), so tokenization runs
    once. The scan is spread so the interpreted HOF-heavy sketch and
    word-set projections use every core on single-file local scans
    (input-adaptive: no shuffle once the scan itself is wide)."""
    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    return _persist_swap(
        spark, slot, docs.select("doc_id", F.array_distinct("w").alias("ws"))
    )


def simhash_word_pairs(sets: DataFrame, bits: int) -> DataFrame:
    """Simhash-blocked candidate pairs of a ``(doc_id, ws)`` distinct
    word-set frame with both sets attached: ``(doc_a, doc_b, ws_a,
    ws_b)``, ``doc_a < doc_b``. The sketch rows carry no word payload;
    candidates come from ONE keyed shuffle on the ``bits``-wide sketch
    (same shape as the minhash band join, star-capped at
    LSH_BUCKET_CAP). Each side's word set is attached with a plain
    equi-join and the planner chooses (broadcast locally, keyed shuffle
    at scale) -- a melt + per-pair argmax agg would force every
    candidate's full word-set payload through one pair-keyed exchange
    (see cosine_pairs, measured ~2x there). Callers score the pairs:
    dedup_ngram_jaccard by Jaccard, dedup_containment by containment."""
    sk = _simhash_sketches(
        sets.select("doc_id", F.col("ws").alias("w")), bits
    )
    cand = _bucket_pairs(
        sk, ["simhash"], "doc_id", "doc_a", "doc_b", cap=LSH_BUCKET_CAP
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    return cand.join(a, "doc_a").join(b, "doc_b")


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs: adaptive-width word-set simhash block ->
    exact word-set Jaccard >= 0.8 inside each bucket."""
    bits = _ngram_adaptive_bits(sf_dir)
    return (
        simhash_word_pairs(word_sets(spark, sf_dir, "ngram_sets"), bits)
        .select("doc_a", "doc_b", jaccard("ws_a", "ws_b").alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


_NGRAM_GROUPS_TAIL = """,
    edges as (
      select doc_a as u, doc_b as v from pairs
      union
      select doc_b as u, doc_a as v from pairs
    ),
    verts as (select distinct u from edges),
    reach as (
      select u, u as v from verts
      union
      select r.u, e.v from reach r join edges e on r.v = e.u
    ),
    comp as (select u as doc_id, min(v) as component from reach group by u)
    select cast(component as bigint) as component,
           cast(count(*) as bigint) as n_docs,
           string_agg(cast(doc_id as varchar), ',' order by doc_id) as doc_ids
    from comp
    group by component
    """


def _ngram_groups_oracle(
    bits: int = NGRAM_SKETCH_BITS, capped: bool = False
) -> str:
    """dedup_ngram_jaccard's oracle: the pair CTEs plus a recursive-CTE
    transitive closure over the verified pairs."""
    return (
        f"\n    with recursive {_ngram_pair_ctes(bits, capped)}"
        f"{_NGRAM_GROUPS_TAIL}"
    )


def _ngram_pairs_oracle(
    bits: int = NGRAM_SKETCH_BITS, capped: bool = False
) -> str:
    """dedup_ngram_jaccard_pairs' oracle: the verified pairs as is."""
    return (
        f"with {_ngram_pair_ctes(bits, capped)}\n"
        f"select doc_a, doc_b, jaccard from pairs"
    )


def _ngram_groups_adaptive_oracle(sf_dir: str) -> str | None:
    """sf-adaptive oracle for dedup_ngram_jaccard (round 15): the
    registered oracle's domain excludes over-cap buckets (its full
    fan-out diverges from the Spark side's star expansion) and the
    16-bit sketch floor; this builder replicates the cap AND builds
    the sketch at the adaptive width, so it stays in domain at any
    corpus size the salted-digest family can sketch (128 bits)."""
    return _ngram_groups_oracle(_ngram_adaptive_bits(sf_dir), capped=True)


def _ngram_pairs_adaptive_oracle(sf_dir: str) -> str | None:
    return _ngram_pairs_oracle(_ngram_adaptive_bits(sf_dir), capped=True)


@register(
    "dedup_ngram_jaccard",
    "N-gram (word-set) Jaccard near-dedup, GROUP-LEVEL: adaptive-width "
    "word-set simhash block (16 + log2-scaled bits, see _ngram_bits) -> "
    "exact Jaccard >= 0.8 verification inside each bucket -> connected "
    "components over the verified pairs. Per-CLUSTER rows are the "
    "default dup report: a k-doc near-dup family is k rows of work, not "
    "k^2/2 pair rows -- the pair emitter survives as the opt-in debug "
    "view dedup_ngram_jaccard_pairs. Oracle: DuckDB recursive-CTE "
    "transitive closure over the identical sketch + verification.",
    _ngram_groups_oracle(),
    "dedup", "jaccard", "simhash", "groups",
    oracle_valid=_ngram_oracle_valid,
    oracle_adaptive=_ngram_groups_adaptive_oracle,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _component_groups(pairs)


@register(
    "dedup_ngram_jaccard_pairs",
    "DEBUG VIEW of the n-gram Jaccard path: the verified (doc_a, doc_b, "
    "jaccard) pairs behind dedup_ngram_jaccard's clusters. Output is "
    "quadratic per near-dup family (a 244-doc family emits ~30 k rows), "
    "so this is the inspection surface, NOT the headline dup report -- "
    "route dedup decisions through the group-level query.",
    _ngram_pairs_oracle(),
    "dedup", "jaccard", "simhash", "debug",
    oracle_valid=_ngram_oracle_valid,
    oracle_adaptive=_ngram_pairs_adaptive_oracle,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs(spark, sf_dir)


CURATION_ORACLE = f"""
with pairs as ({_MINHASH_ORACLE}),
losers as (select distinct doc_b as doc_id from pairs),
t as (select doc_id, lang, n_chars, string_split(text, ' ') w
      from documents),
q as (
  select doc_id, lang, n_chars
  from t
  where len(list_filter(w, x -> x in ({{sw}})))::double / len(w) > 0.05
    and len(list_distinct(w))::double / len(w) > 0.2
    and n_chars >= 100
)
select lang,
       cast(count(*) as bigint) as n_kept,
       cast(sum(n_chars) as bigint) as kept_chars
from q
where doc_id not in (select doc_id from losers)
group by lang
"""


@register(
    "pipeline_curated_corpus",
    "End-to-end curation pipeline: quality gate (stopword/uniqueness/"
    "length) -> near-dup removal (drop the higher doc_id of each >=0.5 "
    "Jaccard LSH pair) -> per-language kept-volume report. The "
    "composition a training-data pipeline actually runs; every stage is "
    "one of this engine's verified operators chained lazily into a "
    "single plan (quality filter + anti join + aggregate).",
    CURATION_ORACLE.format(sw=", ".join(f"'{w}'" for w in STOPWORDS)),
    "dedup", "pipeline", "quality",
)
def pipeline_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.text import stopword_count

    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    n_tok = F.size("w")
    quality = docs.where(
        (stopword_count("w").cast("double") / n_tok > 0.05)
        & (F.size(F.array_distinct("w")).cast("double") / n_tok > 0.2)
        & (F.col("n_chars") >= 100)
    )
    losers = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        quality.join(losers, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )


#: banded hyperplane LSH for embedding dedup: EMB_BANDS independent
#: bucket keys per vector (OR-amplification -> recall), each from
#: EMB_PLANES_PER_BAND disjoint hyperplanes (2^planes buckets per band
#: -> per-bucket pair space; raise planes as the corpus grows,
#: ~log2(N / target_bucket)). The same band/bucket shape as
#: dedup_minhash_lsh, with hyperplane signs instead of minhashes --
#: round 2's fixed-cardinality `label` block is gone.
EMB_BANDS = 4
EMB_PLANES_PER_BAND = 4  # floor; grows with corpus size, see _emb_planes
EMB_TARGET_BUCKET = 32


def _emb_planes(n_vectors: int) -> int:
    """Planes per band ~ log2(N / target bucket size): a FIXED plane
    count means per-bucket population grows linearly with the corpus and
    the candidate-pair space quadratically -- measured 4.9 s (x1) ->
    549 s (x10) on the scaling harness with 4 planes pinned. Scaling the
    bucket count with N caps expected bucket size at EMB_TARGET_BUCKET,
    the same discipline as sizing shuffle partitions to data volume.
    The floor keeps small corpora (the sf0.01 oracle gate: 500 vectors
    -> 4) on the plane family the fixed DuckDB oracle replicates."""
    return max(
        EMB_PLANES_PER_BAND,
        math.ceil(math.log2(max(n_vectors / EMB_TARGET_BUCKET, 2.0))),
    )


def _emb_oracle_valid(sf_dir: str) -> bool:
    """The DuckDB oracle replicates the EMB_PLANES_PER_BAND floor; once
    the corpus pushes the adaptive plane count past it, the oracle is
    out of domain and the parity harness must fall back to the
    sf-adaptive builder (:func:`_emb_adaptive_oracle`)."""
    return (
        _emb_planes(table_row_count(sf_dir, "embeddings"))
        == EMB_PLANES_PER_BAND
    )


def lsh_band_pairs(
    emb: DataFrame, planes: int, cap: int | None = None
) -> DataFrame:
    """Candidate pairs ``(vec_a, vec_b)``, ``vec_a < vec_b``, of the
    banded random-hyperplane LSH index: EMB_BANDS bands of ``planes``
    planes each, pairs sharing a bucket in ANY band (OR-amplified
    recall), distinct across bands. ``cap`` is :func:`_bucket_pairs`'
    star cap: dedup_embedding_cosine passes LSH_BUCKET_CAP,
    sim_knn_join / sim_range_search pass none.

    Bucket bits come off ``emb``'s RAW float ``embedding`` column:
    referencing the derived double array would re-inline its
    transform(...) per element_at -- 64 terms x 16 planes of re-cast
    work per row (see functions/text.py _zip_shingles). float -> double
    promotion inside the product is exact, so the bits are identical
    either way. The (vec_id, band, bucket) long rows carry no vector
    payload; candidate pairs come from ONE keyed shuffle on (band,
    bucket) with per-bucket pair expansion."""
    bands = [
        lsh_bucket("embedding", planes, 64, first_plane=k * planes).alias(
            f"bk{k}"
        )
        for k in range(EMB_BANDS)
    ]
    stack_args = ", ".join(f"{k}, bk{k}" for k in range(EMB_BANDS))
    long = emb.select("vec_id", *bands).select(
        "vec_id", F.expr(f"stack({EMB_BANDS}, {stack_args}) as (band, bucket)")
    )
    return _bucket_pairs(
        long, ["band", "bucket"], "vec_id", "vec_a", "vec_b", cap=cap
    ).distinct()


def cosine_pairs(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact cosine ``cos`` for each candidate pair ``(vec_a, vec_b)``
    of a (vec_id, v) frame: attach each side's (v, sq) with two plain
    equi-joins and let the optimizer pick the strategy -- local/small
    corpora broadcast the vector table, big ones shuffle on vec_id.
    (A melt + per-pair min_by/max_by agg instead forces a shuffle of
    the full vector payload keyed by PAIR -- candidate-count x 128
    doubles through one exchange -- with no path for the planner to
    avoid it.)"""
    n = emb.withColumn("sq", squared_norm("v")).select("vec_id", "v", "sq")
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("sq").alias("sqa"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("sq").alias("sqb"),
    )
    cos = cosine_similarity("va", "vb", "sqa", "sqb")
    return pairs.join(a, "vec_a").join(b, "vec_b").select(
        "vec_a", "vec_b", cos.alias("cos")
    )


def _emb_bands_sql(planes: int) -> str:
    """The banded hyperplane bucket CTE body at a given plane count --
    the plane-term SQL sim_lsh_ann verifies cross-engine, shared by the
    fixed-floor oracles and the sf-adaptive builders."""
    from clueso_spark.plans.similarity_queries import _lsh_plane_sql

    band_selects = []
    for k in range(EMB_BANDS):
        terms = ", ".join(
            _lsh_plane_sql(p, "v")
            for p in range(k * planes, (k + 1) * planes)
        )
        band_selects.append(
            f"select vec_id, {k} as band, concat({terms}) as bucket from e"
        )
    return "\n  union all ".join(band_selects)


def _capped_pairs_sql(
    src: str, keys: str, id_col: str, a: str, b: str, cap: int
) -> str:
    """DuckDB replica of :func:`_bucket_pairs` INCLUDING the over-cap
    star expansion: per bucket (``keys`` of ``src``), ds = sorted
    distinct ids; over ``cap`` members the expansion degrades to
    (ds[1], x) stars exactly as the Spark side does, so an oracle
    built on this stays in domain at ANY bucket population (a plain
    self-join silently diverges the moment a bucket crosses the
    cap). Emits ``bkt``/``pr``/``cand`` CTEs; ``cand`` has columns
    (``a``, ``b``)."""
    return f"""bkt as (
  select {keys}, list_sort(list(distinct {id_col})) as ds
  from {src} group by {keys}
  having count(distinct {id_col}) > 1
),
pr as (
  select unnest(
    case when len(ds) > {cap} then
      list_transform(list_slice(ds, 2, len(ds)),
                     x -> {{'pa': ds[1], 'pb': x}})
    else
      flatten(list_transform(range(1, len(ds)),
        i -> list_transform(list_slice(ds, i + 1, len(ds)),
               x -> {{'pa': ds[i], 'pb': x}})))
    end) as p
  from bkt
),
cand as (select distinct p.pa as {a}, p.pb as {b} from pr)"""


def _emb_cand_pairs_sql(cap: int) -> str:
    return _capped_pairs_sql(
        "bands", "band, bucket", "vec_id", "vec_a", "vec_b", cap
    )


def _emb_adaptive_oracle(sf_dir: str) -> str | None:
    """sf-adaptive oracle for dedup_embedding_cosine (round 15): the
    SAME banded-LSH SQL, built at the plane count the Spark side
    derives for THIS corpus, with the bucket-cap star expansion
    replicated -- so the adaptive branch (the 100 TB-critical path the
    fixed-floor oracle cannot follow) hash-verifies cross-engine."""
    return _emb_adaptive_sql(
        _emb_planes(table_row_count(sf_dir, "embeddings"))
    )


def _embedding_cosine_oracle() -> str:
    """DuckDB replica of the banded hyperplane LSH dedup; reuses the
    plane-term builder sim_lsh_ann already verifies cross-engine.

    Built on the EMB_PLANES_PER_BAND floor: the Spark side's adaptive
    plane count equals the floor for corpora up to ~2^floor *
    EMB_TARGET_BUCKET vectors, which covers the sf0.01/sf0.001 oracle
    gates (500 / 50 vectors -> 4 planes). Above the floor the parity
    harness switches to :func:`_emb_adaptive_oracle`. Since round 15
    the candidate CTE replicates the bucket-cap star expansion too
    (the earlier plain self-join silently diverged from the Spark side
    the moment a floor-domain bucket crossed LSH_BUCKET_CAP -- a
    latent domain hole the adaptive-oracle work surfaced; a planted
    adversary pins the fix)."""
    return _emb_adaptive_sql(EMB_PLANES_PER_BAND)


def _emb_adaptive_sql(planes: int) -> str:
    """The full dedup_embedding_cosine oracle at a given plane count,
    with the bucket-cap star expansion replicated -- shared by the
    registered floor oracle and the sf-adaptive builder."""
    return f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    n as (select vec_id, v, list_dot_product(v, v) as sq from e),
    bands as (
      {_emb_bands_sql(planes)}
    ),
    {_emb_cand_pairs_sql(LSH_BUCKET_CAP)}
    select vec_a, vec_b,
           round(list_dot_product(x.v, y.v) / (sqrt(x.sq) * sqrt(y.sq)), 6)
             as cosine
    from cand join n x on vec_a = x.vec_id
              join n y on vec_b = y.vec_id
    where list_dot_product(x.v, y.v) / (sqrt(x.sq) * sqrt(y.sq)) >= 0.4
    """


@register(
    "dedup_embedding_cosine",
    "Embedding-cosine near-dup via banded random-hyperplane LSH: "
    f"{EMB_BANDS} bands x log2(N/{EMB_TARGET_BUCKET}) planes (md5-nibble "
    "weights, the construction sim_lsh_ann verifies cross-engine) give "
    "every vector 4 bucket keys; candidate pairs share a bucket in ANY "
    "band (OR-amplified recall), then exact cosine >= 0.4 verifies. One "
    "keyed shuffle on (band, bucket); bands tune recall, planes-per-band "
    "scale with corpus size to bound bucket population -- the scale "
    "knobs a fixed blocking key lacks.",
    _embedding_cosine_oracle(),
    "dedup", "embedding", "lsh",
    oracle_valid=_emb_oracle_valid,
    oracle_adaptive=_emb_adaptive_oracle,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", to_double_array("embedding").alias("v")
    )
    # N sizes the index to the corpus; it comes from parquet footer
    # row-group stats (driver-side metadata read, no Spark job) -- a
    # count() here would launch a full scan at DataFrame-CONSTRUCTION
    # time, paid by every catalog build and plan inspection
    planes = _emb_planes(table_row_count(sf_dir, "embeddings"))
    cand = lsh_band_pairs(emb, planes, cap=LSH_BUCKET_CAP)
    return (
        cosine_pairs(emb, cand)
        .where(F.col("cos") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


_CC_ORACLE = f"""
with recursive pairs as ({_MINHASH_ORACLE}),
edges as (
  select doc_a as u, doc_b as v from pairs
  union
  select doc_b as u, doc_a as v from pairs
),
verts as (select distinct u from edges),
reach as (
  select u, u as v from verts
  union
  select r.u, e.v from reach r join edges e on r.v = e.u
),
comp as (select u as doc_id, min(v) as component from reach group by u)
select cast(component as bigint) as component,
       cast(count(*) as bigint) as n_docs,
       string_agg(cast(doc_id as varchar), ',' order by doc_id) as doc_ids
from comp
group by component
"""


#: execution knobs for dedup_connected_components, overridable by a
#: deployment (a fat edge list can force the distributed path with
#: CC_DRIVER_THRESHOLD = 0; CC_MAX_ROUNDS bounds label propagation).
#: Env vars CLUESO_CC_DRIVER_THRESHOLD / CLUESO_CC_MAX_ROUNDS override.
#: Threshold rationale: 2 M edges is ~32 MB collected and milliseconds
#: of union-find -- far below any driver's memory line -- while the
#: distributed min-label path pays several join+checkpoint rounds
#: (measured on the 609 k-edge ngram graph at sf0.1: 18-27 s
#: distributed vs 8-11 s end-to-end via driver union-find). The
#: distributed path remains the >2 M-edge / 100 TB route.
CC_DRIVER_THRESHOLD = 2_000_000
CC_MAX_ROUNDS = 50


def _component_groups(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Connected components over a verified-pair graph, reported as one
    row per duplicate GROUP (component, n_docs, doc_ids) -- the default
    dup-report shape: a k-doc family costs k rows, not k^2/2 pairs."""
    import os

    from clueso_spark.functions.graph import connected_components

    threshold = int(
        os.environ.get("CLUESO_CC_DRIVER_THRESHOLD", CC_DRIVER_THRESHOLD)
    )
    max_rounds = int(os.environ.get("CLUESO_CC_MAX_ROUNDS", CC_MAX_ROUNDS))
    labels = connected_components(
        pairs, a, b, max_rounds=max_rounds, driver_threshold=threshold
    ).select(F.col("vertex").alias("doc_id"), F.col("component").alias("label"))
    return labels.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(
            "array_join(transform(sort_array(collect_list(doc_id)),"
            " x -> cast(x as string)), ',')"
        ).alias("doc_ids"),
    ).select(
        F.col("label").cast("bigint").alias("component"), "n_docs", "doc_ids"
    )


@register(
    "dedup_connected_components",
    "Duplicate GROUPS, not just pairs: connected components over the "
    "MinHash-LSH pair graph via min-label propagation iterated to "
    "fixpoint (the GraphX/GraphFrames pattern). Each round is one keyed "
    "join + aggregate; lineage is cut per round with localCheckpoint -- "
    "without it, iteration N replays all N-1 predecessors and the plan "
    "grows unboundedly (the classic iterative-Spark failure at scale). "
    "Oracle: DuckDB recursive-CTE transitive closure.",
    _CC_ORACLE,
    "dedup", "graph", "iterative",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _component_groups(pairs)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the embedding
# space, then prune near-duplicates WITHIN each cluster by pairwise
# cosine. Clustering is what makes semantic dedup tractable at scale:
# the quadratic pair expansion runs per-cluster (bounded by K's choice),
# never corpus-wide. K grows with the corpus so expected cluster size
# stays ~SEM_TARGET_CLUSTER regardless of N -- the same adaptive-
# cardinality discipline as _emb_planes / _ngram_bits.
# ---------------------------------------------------------------------------

SEM_K_FLOOR = 4  #: the K the fixed-K DuckDB oracle replicates
SEM_TARGET_CLUSTER = 128  #: expected docs per cluster at any corpus size
SEM_TAU = 0.4  #: cosine threshold for "semantically duplicate"


def _sem_k(n_vectors: int) -> int:
    """K for SemDeDup clustering: power of two >= n/target, floor 4.
    Cluster size stays ~SEM_TARGET_CLUSTER, so the within-cluster pair
    square is bounded as the corpus grows (10 B vectors -> K ~ 2^26,
    each cluster still ~128). Delegates to the shared coarse-quantizer
    sizing in similarity_queries (TARGET_CELL == SEM_TARGET_CLUSTER)."""
    from clueso_spark.plans.similarity_queries import adaptive_k

    return adaptive_k(n_vectors, floor=SEM_K_FLOOR)


#: flat N x K assignment below this K; two-level (hierarchical) above.
#: With K ~ N/128, flat assign costs N*K ~ N^2/128 -- the scaling
#: harness measured the bend (x10 corpus: 48.5 s flat). Two-level
#: routes through ~sqrt(K) super-cells first: N*(G + K/G) ~ 2N*sqrt(K),
#: the standard coarse-quantizer trick (measured flat-ish, see
#: SCALE.md). Below the threshold flat is both cheaper and EXACT --
#: which keeps the fixed-K oracle bit-for-bit at the gate's floor.
SEM_HIER_MIN_K = 64


def _sem_assign(emb: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """Nearest-centroid assignment, hierarchical when K is large --
    shared implementation in similarity_queries.assign_nearest (the
    two-level coarse-quantizer routing); see SEM_HIER_MIN_K above."""
    from clueso_spark.plans.similarity_queries import assign_nearest

    return assign_nearest(emb, cents, k)


def _sem_oracle_valid(sf_dir: str) -> bool:
    """The oracle replicates the fixed K floor; valid while adaptive K
    sits on it (N <= 512). Beyond that the driver falls back to
    rows-only, by design."""
    return _sem_k(table_row_count(sf_dir, "embeddings")) == SEM_K_FLOOR


def _sem_adaptive_oracle(sf_dir: str) -> str | None:
    """sf-adaptive SemDeDup oracle (round 15): the same SQL with the
    k-means CTE chain built at the adaptive K the Spark side derives
    for THIS corpus -- flat through K < SEM_HIER_MIN_K (sf0.1's
    K=16), two-level hierarchical at and above it (the same
    kmeans_ctes_adaptive chain sim_ivf_nprobe_curve uses;
    SEM_HIER_MIN_K == HIER_MIN_K and assign_nearest is the shared
    implementation)."""
    from clueso_spark.plans.similarity_queries import kmeans_ctes_adaptive

    k = _sem_k(table_row_count(sf_dir, "embeddings"))
    return _sem_oracle(kmeans_ctes_adaptive(k))


def _sem_oracle(kmeans_ctes: str | None = None) -> str:
    from clueso_spark.plans.similarity_queries import _KMEANS_CTES

    if kmeans_ctes is None:
        kmeans_ctes = _KMEANS_CTES
    return f"""
with {kmeans_ctes},
m as (
  select a2.vec_id, a2.cid, n.v, n.sq
  from a2 join n on a2.vec_id = n.vec_id
),
pairs as (
  select a.cid, a.vec_id as a_id, b.vec_id as b_id,
         list_dot_product(a.v, b.v) / (sqrt(a.sq) * sqrt(b.sq)) as cos
  from m a join m b on a.cid = b.cid and a.vec_id < b.vec_id
),
best as (
  select cid, b_id, a_id, cos,
         row_number() over (partition by b_id order by cos desc, a_id) rk
  from pairs where cos >= {SEM_TAU}
)
select cast(cid as bigint) as cluster_id, b_id as vec_id,
       a_id as dup_of, round(cos, 6) as cosine
from best where rk = 1
"""


@register(
    "dedup_semantic",
    "SemDeDup (Abbas et al. 2023): k-means the embeddings (one "
    "decimal-exact Lloyd round, deterministic lowest-id init), then "
    f"within each cluster mark any vector with cosine >= {SEM_TAU} to a "
    "lower-id clustermate as a semantic duplicate of its closest such "
    "anchor. The cluster assignment is the blocking key: the pair "
    "square is per-cluster, and K scales as N/128 (adaptive like "
    "_emb_planes), so expected cluster size -- and per-cluster cost -- "
    "is flat at any corpus size. Oracle replicates the fixed-K floor; "
    "oracle_valid guards the domain.",
    _sem_oracle(),
    "dedup", "semantic", "kmeans", "llm-pipeline",
    oracle_valid=_sem_oracle_valid,
    oracle_adaptive=_sem_adaptive_oracle,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.similarity_queries import _emb, _lloyd_c1

    k = _sem_k(table_row_count(sf_dir, "embeddings"))
    emb = _emb(spark, sf_dir)

    def assign(e, cents):
        return _sem_assign(e, cents, k)

    # one Lloyd round then final assignment (both hierarchical once K
    # passes SEM_HIER_MIN_K); persisted because the within-cluster
    # self-join consumes it twice
    a2 = _persist_swap(
        spark,
        "sem_assign",
        assign(emb, _lloyd_c1(emb, k, assign_fn=assign)).select(
            "vec_id", "cid", "v", "sq"
        ),
    )
    a = a2.select(
        F.col("cid").alias("a_cid"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("sq").alias("asq"),
    )
    b = a2.select(
        "cid",
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("sq").alias("bsq"),
    )
    cos = cosine_similarity("av", "bv", "asq", "bsq")
    pairs = (
        a.join(
            b,
            (F.col("a_cid") == F.col("cid"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("cid", "a_id", "b_id", cos.alias("cos"))
        .where(F.col("cos") >= SEM_TAU)
    )
    w = Window.partitionBy("b_id").orderBy(F.col("cos").desc(), F.col("a_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.col("b_id").alias("vec_id"),
            F.col("a_id").alias("dup_of"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): find SPANS shared verbatim across
# documents. The suffix-array construction of the paper is replaced by
# its scalable distributed approximation: every k-word window is hashed,
# windows whose hash appears in >= 2 distinct docs are duplicated spans,
# and each doc reports its duplicated-span fraction (the curation signal
# used to cut boilerplate). Cost at 100 TB: one explode (rows ~ corpus
# token count), ONE keyed shuffle on the window hash, one semi-join
# back -- no suffix array, no global sort, no pairwise comparison.
# ---------------------------------------------------------------------------

SUBSTR_WINDOW = 8  #: words per exact-match window

_SUBSTR_ORACLE = f"""
with w as (select doc_id, string_split(text, ' ') words from documents),
sh as (
  select doc_id,
         md5(array_to_string(list_slice(words, i, i + {SUBSTR_WINDOW - 1}), ' ')) as h
  from w, unnest(generate_series(1, greatest(len(words) - {SUBSTR_WINDOW - 1}, 0))) as t(i)
),
dup as (select h from sh group by h having count(distinct doc_id) >= 2),
tot as (select doc_id, count(*) as n_windows from sh group by doc_id),
d as (select doc_id, count(*) as n_dup from sh
      where h in (select h from dup) group by doc_id)
select tot.doc_id, cast(n_windows as bigint) as n_windows,
       cast(coalesce(n_dup, 0) as bigint) as dup_windows,
       round(cast(coalesce(n_dup, 0) as double) / n_windows, 6) as dup_frac
from tot left join d on tot.doc_id = d.doc_id
"""


@register(
    "dedup_exact_substring",
    f"Exact substring dedup (Lee et al. 2022) as its distributed "
    f"approximation: hash every {SUBSTR_WINDOW}-word window, a window "
    "duplicated across >= 2 distinct docs is a verbatim shared span; "
    "each doc reports its duplicated-span fraction. One explode + ONE "
    "keyed shuffle on the window hash + a semi-join back -- no suffix "
    "array, no global sort, linear in corpus tokens at any scale.",
    _SUBSTR_ORACLE,
    "dedup", "substring", "llm-pipeline",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("words")
    )
    sh = _persist_swap(
        spark,
        "substr_windows",
        docs.select(
            "doc_id",
            F.explode(word_shingles("words", SUBSTR_WINDOW)).alias("s"),
        ).select("doc_id", F.md5("s").alias("h")),
    )
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    tot = sh.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    d = (
        sh.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        tot.join(d, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("dup_windows"),
            F.round(
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.col("n_windows"),
                6,
            ).alias("dup_frac"),
        )
    )
