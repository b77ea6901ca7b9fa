"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine — the scrubbing toolkit for LLM training corpora.

Scale design (the point of each variant):

- **exact**: hash-groupBy on an md5 fingerprint — one shuffle on a fixed
  32-byte key; at 100 TB this is the cheapest possible dedup and the
  shuffle key is tiny regardless of document size.
- **n-gram Jaccard**: exact pairwise similarity but only over pairs that
  share at least one shingle (inverted-index self-join), never the full
  O(n²) cross product. Hot shingles are capped (``max_shingle_freq``) —
  the classic posting-list-truncation trick that keeps the join skew-free.
- **MinHash-LSH**: constant-size signature per doc (k hashes), banded into
  buckets; only same-bucket docs are joined. Tunable recall/cost; the
  only all-pairs-free fuzzy dedup that survives 10^9 docs.
- **SimHash**: one 64-bit signature per doc; near-dups differ in few bits.
  Signature generation is a single pass, candidate pairing via band keys.
- **embedding cosine**: semantic near-dup via the similarity module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import fingerprint as _fingerprint

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40, "p": 1 << 50}


def _parse_size_bytes(conf: str, default: int) -> int:
    """Hadoop/Spark byte-size string → bytes, honoring the b/k/m/g/t/p
    suffix family (``128m`` = 134217728, not 128 — ADVICE r9: stripping
    non-digits misread suffixed confs by six orders of magnitude and
    silently disabled the repartition heuristic). Bare numbers are
    bytes; unparseable values fall back to ``default``."""
    s = str(conf).strip().lower()
    for unit in ("kb", "mb", "gb", "tb", "pb"):  # 128mb == 128m
        if s.endswith(unit):
            s = s[:-1]
            break
    try:
        if s and s[-1] in _SIZE_SUFFIX:
            return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
        return int(s)
    except (ValueError, IndexError):
        return default


def word_shingles(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  hashed: bool = False) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built with sequence+transform (JVM-side array ops), exploded once.

    ``hashed=True`` replaces the shingle string with its xxhash64 — every
    downstream shuffle (frequency cap, inverted-index self-join, size
    agg) then moves 8-byte ints instead of ~30-byte strings, ~2× faster
    end-to-end. Set-semantics are preserved up to hash collisions
    (P ≈ n_distinct²/2⁶⁵ — ~1e-9 at 10⁵ shingles; the collision merges
    two shingles corpus-wide, deterministically).
    """
    # small-file inputs arrive as one partition; the explode is the
    # expensive part, so spread docs across the cluster first (tiny
    # shuffle of the raw docs, big win on the per-doc HOF evaluation).
    # The scan-parallelism estimate is METADATA-ONLY (input file list
    # + maxPartitionBytes splits) — the previous df.rdd probe pulled
    # the plan through RDD conversion analysis just to read a number
    # (VERDICT r8 anti-pattern note). Non-file-backed frames (empty
    # inputFiles) already parallelize at defaultParallelism.
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - estimate only, never fail
        files = []
    if files and len(files) < target:
        from .. import fs as _fs
        conf = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728")
        max_pb = _parse_size_bytes(str(conf), default=134217728)
        try:
            splits = sum(
                max(1, -(-sz // max_pb))
                for f in files
                for sz in _fs.list_file_sizes(df.sparkSession, f,
                                              suffix="").values())
        except Exception:  # noqa: BLE001
            splits = len(files)
        if splits < target:
            df = df.repartition(target, id_col)
    # Tokenize ONCE into a materialized array column before the
    # explode (round-10 optimization, guide §1.2 "per-task work"): the
    # generator expression of a Generate node is evaluated in
    # INTERPRETED mode (higher-order functions are CodegenFallback),
    # and with ``split(text)`` inlined every ``element_at`` call
    # re-split the whole document — O(tokens²) string scanning per
    # doc, measured as 27-95 s cold / ~4 s warm for the sf0.1 explode.
    # With the token array projected first (codegen'd Project, one
    # split per row) the generator does O(1) ``element_at`` lookups:
    # 0.3-0.7 s for the identical output (plans/r10, OPTIMIZATION_r10).
    toks = F.col("__pd_toks")
    df = df.select(F.col(id_col),
                   F.split(F.col(text_col), " ").alias("__pd_toks"))
    # docs with < n tokens have no n-grams; without the guard,
    # sequence(1, size-(n-1)) would be a DESCENDING sequence (Spark
    # sequences run backwards when start > stop) and element_at(toks, 0)
    # throws. DuckDB's range() is empty there — semantics must match.
    df = df.where(F.size(toks) >= n)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]))
    out = df.select(F.col(id_col), F.explode(F.array_distinct(grams))
                    .alias("shingle"))
    if hashed:
        out = out.select(F.col(id_col),
                         F.xxhash64("shingle").alias("shingle"))
    return out


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    Returns one row per distinct fingerprint: the survivor (min id), the
    copy count. Single shuffle on the 32-byte fingerprint.
    """
    fp = _fingerprint(df, id_col, text_col)
    return (fp.groupBy("fingerprint")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


#: default projected-pair refusal budget for the exact pairwise tier
#: (VERDICT r9 #3). 10⁹ candidate pairs ≈ a ~30 GB pair shuffle — past
#: that the exact tier is the wrong tool and the banded/sketched tiers
#: (MinHash-LSH, CMS) are the scale path.
DEFAULT_MAX_PROJECTED_PAIRS = 1_000_000_000


def _check_pair_budget(projected: int, budget: int | None,
                       op: str) -> None:
    if budget is not None and projected > budget:
        raise ValueError(
            f"{op}: projected candidate-pair count {projected:,} "
            f"exceeds max_projected_pairs={budget:,}. The exact "
            f"inverted-index tier enumerates Σ_shingle f·(f−1)/2 "
            f"pairs; lower max_shingle_freq, raise "
            f"max_projected_pairs (or pass None) if the cluster can "
            f"absorb the pair shuffle, or use the bounded tiers: "
            f"minhash_lsh_pairs (banded buckets + per-bucket cap) / "
            f"ngram_jaccard_pairs_cms (sketch-capped postings).")


def _capped_posting_lists(df: DataFrame, id_col: str, text_col: str,
                          n: int, max_shingle_freq: int | None,
                          df_col: str | None = None,
                          max_projected_pairs: int | None =
                          DEFAULT_MAX_PROJECTED_PAIRS,
                          op: str = "pairwise shingle op",
                          owned_frames: list | None = None):
    """Shared substrate of the pairwise shingle operators
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): hashed
    shingle posting lists with the hot-shingle frequency cap applied,
    plus per-doc capped set sizes. Returns ``(shingles, sizes)``.

    Persist discipline (tuned, keep in ONE place): only the CAPPED
    set is persisted (it feeds the size aggregate and both sides of
    the inverted-index self-join); the raw explode is consumed exactly
    once — by the job that populates the capped cache — so persisting
    it bought nothing (round-10 change; previously both frames were
    cached and the window pass additionally ran twice when the pair
    budget was checked). The cap is a window count — ONE shuffle on
    the shingle key that the self-join reuses. A broadcast-anti-join
    alternative (hash-agg the hot list, anti-join it) was A/B'd: ~20%
    faster on the sparse fixture corpus but 1.4-2.8× SLOWER and
    unstable on a dense 50k-doc near-dup stress — it scans the posting
    table twice and adds a broadcast build, which dominates exactly
    when postings are big (PERF.md). Cache lifetime: ``owned_frames``
    (a list) collects the persisted posting frame so the calling
    operator's own ``owned_frames`` caller can unpersist it once the
    result is materialized; without it the frame sits in the block
    store until the session's cache hygiene releases it (bench's
    inter-query clearCache, or a production clearCache sweep).

    ``df_col``: when set, the PRE-CAP document frequency of each
    shingle is kept on the returned frame under that name (the same
    window count the cap already pays for) — the hook
    :func:`weighted_jaccard_pairs` hangs its rarity weights on, so
    the cap/persist tuning stays in this one place.

    ``max_projected_pairs`` (VERDICT r9 #3): before any pair is
    enumerated, the EXACT number of candidate pairs the inverted-index
    self-join will produce — Σ_shingle f·(f−1)/2 over the post-cap
    frequencies — is computed and the call refuses past the budget,
    so a 100 TB user cannot accidentally run the exact tier into a
    petabyte pair shuffle (the classic failure: ``max_shingle_freq=
    None`` on a boilerplate-heavy crawl). Cost: when the cap/df
    window already ran, ONE scan of the persisted posting frame
    (``Σ_rows (f−1)/2`` — each row carries its shingle's frequency);
    uncapped, one (shingle → count) aggregate, still far cheaper than
    the self-join it guards. ``None`` disables.
    """
    raw = word_shingles(df, id_col, text_col, n, hashed=True)
    if max_shingle_freq is not None or df_col:
        from pyspark.sql import Window
        w = Window.partitionBy("shingle")
        freq_name = df_col or "__df"
        shingles = raw.withColumn(freq_name,
                                  F.count(F.lit(1)).over(w))
        if max_shingle_freq is not None:
            shingles = shingles.where(
                F.col(freq_name) <= max_shingle_freq)
        # persist BEFORE the budget action (round-10): the guard's
        # aggregate then POPULATES the capped cache instead of running
        # the explode+window pass once for the check and again for the
        # first downstream consumer — previously the whole window pass
        # executed twice per call (plans/r10, OPTIMIZATION_r10). The
        # freq column rides along in the cache (one long per row) so
        # the budget scan and the posting consumers share one frame;
        # the raw explode is deliberately NOT persisted here — it is
        # consumed exactly once, inside this same job.
        shingles = shingles.persist()
        if owned_frames is not None:
            owned_frames.append(shingles)
        if max_projected_pairs is not None:
            # post-cap each row's freq f ≤ cap is its shingle's true
            # posting length, so Σ_rows (f−1) = Σ_shingle f·(f−1)
            row = shingles.agg(
                F.sum(F.col(freq_name) - 1).alias("p")).first()
            _check_pair_budget(int(row["p"] or 0) // 2,
                               max_projected_pairs, op)
        # the document-frequency column stays on the frame (internal
        # name ``__df`` when the caller didn't ask for it): it rides
        # in the already-persisted cache for free and lets the pair
        # enumerators drop singleton postings before the self-join
        # (:func:`_pairable_postings` — round-11, guide §2.3).
    else:
        shingles = raw.persist()
        if owned_frames is not None:
            owned_frames.append(shingles)
        if max_projected_pairs is not None:
            row = (shingles.groupBy("shingle")
                   .agg(F.count(F.lit(1)).alias("f"))
                   .agg(F.sum(F.col("f") * (F.col("f") - 1)).alias("p"))
                   .first())
            _check_pair_budget(int(row["p"] or 0) // 2,
                               max_projected_pairs, op)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    return shingles, sizes


def _pairable_postings(shingles: DataFrame) -> DataFrame:
    """Posting rows that can actually produce a candidate pair: a
    shingle appearing in exactly ONE document yields only the self-pair
    every enumerator excludes, so its postings are dead weight in the
    inverted-index self-join — provably output-identical to drop them
    first (round-11, guide §2.3: shuffle fewer bytes). On a natural
    web corpus singleton shingles are the bulk of the posting table;
    the document-frequency column is already on the frame (and in its
    cache) wherever the cap window ran, so the filter costs one
    codegen'd predicate. Frames without the column pass through."""
    if "__df" in shingles.columns:
        return shingles.where(F.col("__df") >= 2)
    return shingles


def _shared_shingle_pairs(shingles: DataFrame, id_col: str,
                          directed: bool = False,
                          shuffle_hash: bool = False) -> DataFrame:
    """Candidate-pair stage shared by :func:`ngram_jaccard_pairs`,
    :func:`containment_pairs` and :func:`edit_dup_pairs`: the
    inverted-index self-join + shared-shingle count — (id_a, id_b,
    shared). ``directed=True`` keeps both orientations (containment);
    otherwise id_a < id_b. Keeping this in ONE place is what keeps
    the three operators' documented candidate rule — and their SQL
    oracles — from drifting apart.

    ``shuffle_hash=True`` hints the self-join to a shuffled hash join
    (round-11, guide §3.1): the posting self-join's sort order is not
    reused downstream (the next stage is a hash aggregate on the pair
    key), so SMJ's two sorts are pure overhead; per-partition build
    memory stays bounded because AQE coalesces post-shuffle partitions
    to the advisory size and skew-splits oversized ones. Set by
    callers whose posting frame is too big to broadcast by
    construction (the string-keyed CMS tier); the hashed-int64 tiers
    leave it off so the planner's broadcast pick at small SF stands."""
    pairable = _pairable_postings(shingles)
    a = pairable.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    b = pairable.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    if shuffle_hash:
        b = b.hint("shuffle_hash")
    pred = (F.col("id_a") != F.col("id_b") if directed
            else F.col("id_a") < F.col("id_b"))
    return (a.join(b, "shingle")
            .where(pred)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_shingle_freq: int | None = 100,
                        max_projected_pairs: int | None =
                        DEFAULT_MAX_PROJECTED_PAIRS,
                        owned_frames: list | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    jaccard(a,b) = |A∩B| / (|A|+|B|-|A∩B|) over distinct word n-grams.
    Pairs are generated from the inverted index (docs sharing a shingle),
    so complexity is Σ_shingle freq² — bounded by ``max_shingle_freq``
    (drop degenerate stop-shingles, standard at corpus scale) and
    REFUSED past ``max_projected_pairs`` (pre-enumeration Σf·(f−1)/2
    check; None disables — see :func:`_capped_posting_lists`).
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Posting-list construction and persist discipline live in
    :func:`_capped_posting_lists` (shared with containment).
    ``owned_frames`` (a list) collects the frames this call persists
    so a long-lived caller can unpersist them once the result is
    materialized (ADVICE r10 — otherwise repeated calls accumulate
    cached intermediates for the session's lifetime).
    """
    shingles, sizes = _capped_posting_lists(
        df, id_col, text_col, n, max_shingle_freq,
        max_projected_pairs=max_projected_pairs,
        op="ngram_jaccard_pairs", owned_frames=owned_frames)
    shared = _shared_shingle_pairs(shingles, id_col)
    # the per-doc size frame is joined on BOTH pair sides; without a
    # persist the whole sizes aggregate subtree (a full pass over the
    # posting table + an exchange) executes twice — once per alias
    # (round-10 plan audit, nodes 44-49 vs 53-58). num_docs rows of
    # (id, count): tiny next to the postings it summarizes.
    sizes = sizes.persist()
    if owned_frames is not None:
        owned_frames.append(sizes)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (shared.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard",
                       F.col("shared")
                       / (F.col("sz_a") + F.col("sz_b") - F.col("shared")))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


def ngram_jaccard_pairs_cms(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            threshold: float = 0.5,
                            max_shingle_freq: int = 100,
                            width: int = 1 << 12,
                            depth: int = 3,
                            owned_frames: list | None = None,
                            max_projected_pairs: int | None =
                            DEFAULT_MAX_PROJECTED_PAIRS) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with the hot-shingle cap served by
    a Count-Min sketch instead of the exact document-frequency window
    (ROADMAP item 30). The exact cap pays ONE full shuffle of the
    posting lists on the shingle key just to count them
    (:func:`_capped_posting_lists`); here the df estimate is
    ``depth`` BROADCAST joins against a fixed-size counter table
    (:func:`~pydin_spark.operators.rollup.cms_query` — the sketch is
    depth x width longs regardless of corpus), so the posting lists
    reach the pair-enumeration join having never been shuffled for
    the cap. At 100 TB that is the difference between two
    corpus-sized exchanges and one.

    Semantics: CMS estimates are one-sided (>= true df), so shedding
    ``est > max_shingle_freq`` sheds a deterministic SUPERSET of the
    exact cap's victims — strictly more conservative recall, same
    safety direction as the cap itself (it is a recall knob, not a
    correctness knob; pairs that survive carry their EXACT jaccard).
    The sketch hash family is the md5-position one every sketch
    oracle rebuilds, so the whole operator — collisions and all — is
    oracle-reproducible. Shingles stay as strings here (the md5
    family is cross-engine; the exact tier's xxhash64 substrate is
    not), trading shuffle bytes for verifiability; at production
    scale prefer the exact tier's hashed substrate when the df
    aggregate is affordable, this tier when it is not.
    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.

    ``owned_frames`` (a list) collects the frames this call
    persists so a long-lived caller can unpersist them once the
    result is materialized — the same cache-lifetime discipline as
    :func:`minhash_lsh_pairs` (ADVICE r8: repeated calls otherwise
    accumulate cached posting lists for the session's lifetime).
    """
    from .rollup import cms_build, cms_query
    shingles = word_shingles(df, id_col, text_col, n,
                             hashed=False).persist()
    if owned_frames is not None:
        owned_frames.append(shingles)
    cms = cms_build(shingles, "shingle", width=width, depth=depth)
    est = cms_query(shingles, cms, "shingle", width=width, depth=depth,
                    out_col="__est_df")
    surviving = est.where(F.col("__est_df") <= max_shingle_freq)
    if max_projected_pairs is not None:
        # the sketch estimate is one-sided (>= true df), so
        # Σ_rows (est−1)/2 upper-bounds the true pair enumeration —
        # refusing on it is strictly conservative, and it reuses the
        # broadcast-joined estimate column the shed already computed
        row = surviving.agg(
            F.sum(F.col("__est_df") - 1).alias("p")).first()
        _check_pair_budget(int(row["p"] or 0) // 2,
                           max_projected_pairs,
                           "ngram_jaccard_pairs_cms (CMS upper bound)")
    capped = surviving.drop("__est_df").persist()
    if owned_frames is not None:
        owned_frames.append(capped)
    # joined on both pair sides below — persist so the per-doc size
    # pass over the cached postings runs once, not once per alias
    # (round-10, same fix as ngram_jaccard_pairs).
    sizes = capped.groupBy(id_col) \
        .agg(F.count(F.lit(1)).alias("sz")).persist()
    if owned_frames is not None:
        owned_frames.append(sizes)
    # shuffle-hash hint (round-11, guide §3.1): this tier's postings
    # are STRING-keyed by design (md5 oracle family), too wide for the
    # broadcast pick the hashed tiers get at small SF, so the planner
    # fell back to SortMergeJoin — but the join feeds a hash aggregate
    # on the pair key, so the sort is pure overhead. Measured r10 A/B:
    # 4.48 -> 3.17 s at sf0.1 with AQE's runtime SMJ->SHJ rewrite;
    # the hint applies the same choice statically to just this join.
    shared = _shared_shingle_pairs(capped, id_col, shuffle_hash=True)
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("sz").alias("sz_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("shared")
                        / (F.col("sz_a") + F.col("sz_b")
                           - F.col("shared")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def weighted_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           threshold: float = 0.5,
                           max_shingle_freq: int | None = 100,
                           weight_scale: int = 1000,
                           max_projected_pairs: int | None =
                           DEFAULT_MAX_PROJECTED_PAIRS,
                           owned_frames: list | None = None) -> DataFrame:
    """Rarity-weighted Jaccard near-dup pairs: two documents sharing
    RARE shingles are nearer duplicates than two sharing boilerplate,
    which plain Jaccard cannot see (every shingle counts 1). The
    weighted form is
    ``J_w = Σ_{A∩B} w / (W_a + W_b − Σ_{A∩B} w)`` with per-shingle
    weight ``w(sh) = (N · weight_scale) div df(sh)`` — the idf shape
    (monotone-decreasing in document frequency) kept in pure BIGINT:
    a float idf (ln) would make the per-doc weight sums
    summation-order-dependent and kill the value-exact oracle; the
    integer rational keeps every sum exact and the final ratio ONE
    division (the engine-wide float convention). With all weights
    equal the formula degenerates to plain Jaccard (pinned by test).

    ``df`` counts distinct-doc occurrences on the UNCAPPED posting
    set (the weight reflects true corpus frequency), then the
    ``max_shingle_freq`` cap sheds the degenerate hot shingles from
    pair generation exactly as :func:`ngram_jaccard_pairs` — capped
    shingles carry near-minimum weight anyway, so the cap removes
    quadratic cost, not signal. Scale shape: the same inverted-index
    substrate (one window count on the shingle key, self-join reuses
    the shuffle), with one extra integer column through it.

    Output: (id_a, id_b, shared_w BIGINT, jaccard_w DOUBLE),
    id_a < id_b, jaccard_w >= threshold. ``owned_frames`` (a list)
    collects the frames this call persists so a long-lived caller can
    unpersist them once the result is materialized (ADVICE r10).
    """
    if int(weight_scale) < 1:
        raise ValueError("weight_scale must be a positive integer")
    weighted, _ = _weighted_postings(
        df, id_col, text_col, n, max_shingle_freq, weight_scale,
        max_projected_pairs=max_projected_pairs,
        op="weighted_jaccard_pairs", owned_frames=owned_frames)
    # joined on both pair sides — persist so the weight-sum aggregate
    # (a full pass over the weighted postings) runs once, not once per
    # alias (same round-10 fix as ngram_jaccard_pairs).
    sizes = weighted.groupBy(id_col).agg(F.sum("w").alias("W")).persist()
    if owned_frames is not None:
        owned_frames.append(sizes)
    # singleton postings can't pair — drop them before the self-join
    # (round-11, output-identical; see _pairable_postings)
    pairable = _pairable_postings(weighted)
    a = pairable.select(F.col(id_col).alias("id_a"), "shingle",
                        F.col("w").alias("wa"))
    b = pairable.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    shared = (a.join(b, "shingle")
              .where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.sum("wa").alias("shared_w")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("W").alias("W_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("W").alias("W_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard_w",
                        F.col("shared_w")
                        / (F.col("W_a") + F.col("W_b")
                           - F.col("shared_w")))
            .where(F.col("jaccard_w") >= threshold)
            .select("id_a", "id_b", "shared_w", "jaccard_w"))


def _weighted_postings(df: DataFrame, id_col: str, text_col: str,
                       n: int, max_shingle_freq: int | None,
                       weight_scale: int,
                       max_projected_pairs: int | None = None,
                       op: str = "weighted postings",
                       owned_frames: list | None = None):
    """Shared rarity-weighted posting lists: (wp, n_docs) with
    ``w = (N · scale) div df`` attached — computed ONCE and reused by
    :func:`weighted_jaccard_pairs`, :func:`icws_signatures` and
    :func:`icws_lsh_pairs`'s verify stage (the round-8 review found
    the LSH path paying the substrate twice). The pair budget
    defaults OFF here: only the self-joining caller
    (:func:`weighted_jaccard_pairs`) enumerates Σf² pairs — the ICWS
    signature/LSH paths are candidate-bounded by banding instead."""
    n_docs = df.count()
    shingles, _ = _capped_posting_lists(
        df, id_col, text_col, n, max_shingle_freq, df_col="__df",
        max_projected_pairs=max_projected_pairs, op=op,
        owned_frames=owned_frames)
    # __df stays on the frame: it is already in the posting cache and
    # lets the pair enumerators drop singleton postings before their
    # self-join (:func:`_pairable_postings`)
    wp = shingles.withColumn("w", F.expr(
        f"({int(n_docs)}L * {int(weight_scale)}L) div __df"))
    return wp, n_docs


def _unit_uniform(col, salt: int):
    """Strictly-(0,1) uniform from a hash of ``col`` — deterministic,
    columnar, safe under ln()."""
    m = 1 << 40
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(m))
            .cast("double") + F.lit(0.5)) / F.lit(float(m))


def icws_signatures(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    num_hashes: int = 16,
                    max_shingle_freq: int | None = 100,
                    weight_scale: int = 1000,
                    weighted_postings: DataFrame | None = None,
                    owned_frames: list | None = None) -> DataFrame:
    """Improved Consistent Weighted Sampling signatures (Ioffe 2010):
    the MinHash analogue whose collision probability IS the weighted
    Jaccard — ``P(sample_k(A) = sample_k(B)) = J_w(A, B)`` — so LSH
    banding over these signatures generates candidates whose recall
    tracks the WEIGHTED measure, where plain MinHash banding tracks
    the unweighted one (ROADMAP #28; the candidate front end for
    :func:`weighted_jaccard_pairs` at corpus scale).

    Per (shingle, hash k), ICWS draws r, c ~ Gamma(2,1) and
    β ~ U(0,1) seeded by the SHINGLE AND K ONLY (consistency is the
    whole trick — the same shingle draws the same randomness in every
    document), then ``t = ⌊ln w / r + β⌋``,
    ``ln a = ln c − r·(t − β) − r``, and sample k is the (shingle, t)
    of the minimal ``ln a``. Gamma(2,1) = −ln(u₁·u₂) (sum of two
    exponentials); every uniform comes from xxhash64(shingle, salt),
    so the whole construction is pure seeded Column arithmetic — no
    Python, no stored randomness. Weights are the
    :func:`weighted_jaccard_pairs` integer rarity weights (≥ 1, so
    ln w ≥ 0 is safe).

    This family is APPROXIMATE BY CONSTRUCTION — collision agreement
    is a Bernoulli(J_w) per hash — so there is no value-exact oracle;
    the pinned contracts are pytest: per-hash agreement rate ≈ J_w on
    constructed pairs, and banded recall on planted weighted
    near-dups (the minhash recall-property discipline). Scale shape:
    one shingle explode + K column expressions + one min_by aggregate
    per doc — signature size is constant in document length.

    Output: (id, sig array<struct<sh bigint, t bigint>>).
    """
    if int(num_hashes) < 1:
        raise ValueError("num_hashes must be >= 1")
    if weighted_postings is None:
        weighted, _ = _weighted_postings(df, id_col, text_col, n,
                                         max_shingle_freq,
                                         weight_scale,
                                         owned_frames=owned_frames)
    else:
        weighted = weighted_postings
    lnw = F.log(F.col("w").cast("double"))
    aggs = []
    for k in range(int(num_hashes)):
        u1 = _unit_uniform(F.col("shingle"), 5 * k + 1)
        u2 = _unit_uniform(F.col("shingle"), 5 * k + 2)
        u3 = _unit_uniform(F.col("shingle"), 5 * k + 3)
        u4 = _unit_uniform(F.col("shingle"), 5 * k + 4)
        beta = _unit_uniform(F.col("shingle"), 5 * k + 5)
        r = -F.log(u1 * u2)
        c = -F.log(u3 * u4)
        t = F.floor(lnw / r + beta)
        lna = F.log(c) - r * (t.cast("double") - beta) - r
        aggs.append(F.min_by(
            F.struct(F.xxhash64("shingle").alias("sh"),
                     t.cast("long").alias("t")), lna).alias(f"s{k}"))
    sig = weighted.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"s{k}")
                  for k in range(int(num_hashes))]).alias("sig"))


def icws_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3,
                   num_hashes: int = 16, bands: int = 8,
                   threshold: float = 0.5,
                   max_shingle_freq: int | None = 100,
                   weight_scale: int = 1000,
                   verify: bool = True,
                   max_bucket_size: int | None = None,
                   shed_stats: dict | None = None,
                   owned_frames: list | None = None) -> DataFrame:
    """Weighted near-dup pairs at LSH scale: band the ICWS signatures
    (docs agreeing on any whole band become candidates — a bucket
    equi-join, never a cross product), then verify candidates with
    the EXACT :func:`weighted_jaccard_pairs` arithmetic. The
    candidate probability at weighted similarity s is the standard
    ``1 − (1 − s^r)^b`` S-curve — :func:`lsh_plan` applies unchanged
    because the per-hash collision probability is J_w itself.

    Output: (id_a, id_b, shared_w, jaccard_w) with id_a < id_b and
    jaccard_w >= threshold (``verify=False`` returns raw candidate
    pairs for recall studies). ``owned_frames`` (a list) collects the
    frames this call persists so a long-lived caller can unpersist
    them once the result is materialized (ADVICE r10).
    """
    if bands < 1 or num_hashes % bands:
        raise ValueError("bands must be >= 1 and divide num_hashes")
    # ONE posting-list substrate shared by signatures and verify —
    # the review found this path paying the explode + window twice
    wp, _ = _weighted_postings(df, id_col, text_col, n,
                               max_shingle_freq, weight_scale,
                               owned_frames=owned_frames)
    sig = icws_signatures(df, id_col, text_col, n, num_hashes,
                          max_shingle_freq, weight_scale,
                          weighted_postings=wp)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[f
                              for r in range(rows_per_band)
                              for f in (
                                  F.element_at(
                                      "sig",
                                      b * rows_per_band + r + 1)["sh"],
                                  F.element_at(
                                      "sig",
                                      b * rows_per_band + r + 1)["t"])])
                 .alias("bh"))
        for b in range(bands)
    ]
    # band array staged in a Project before the explode — same
    # interpreted-Generate rationale as :func:`_band_buckets`
    buckets = (sig.select(F.col(id_col),
                          F.array(*band_cols).alias("__bk_arr"))
               .select(F.col(id_col), F.explode("__bk_arr").alias("bk"))
               .select(F.col(id_col), F.col("bk.band"),
                       F.col("bk.bh")))
    buckets = _cap_buckets(buckets, max_bucket_size, shed_stats)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (a.join(b, ["band", "bh"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    if not verify:
        return cand
    # candidate-bounded exact verify: the SAME integer arithmetic as
    # weighted_jaccard_pairs, but shared-weight sums run only over
    # the candidate pairs — never the full inverted-index self-join
    # (that would defeat the banding); wp is the substrate computed
    # above, shared with the signature stage
    # joined on both pair sides — persist so the weight-sum pass over
    # the postings runs once, not once per alias (round-10 fix, same
    # as weighted_jaccard_pairs / jaccard_for_pairs).
    sizes = wp.groupBy(id_col).agg(F.sum("w").alias("W")).persist()
    if owned_frames is not None:
        owned_frames.append(sizes)
    # a singleton shingle can't be shared by two docs — drop its
    # postings before the candidate-verify joins (round-11,
    # output-identical; see _pairable_postings)
    pw = _pairable_postings(wp)
    pa = pw.select(F.col(id_col).alias("id_a"), "shingle",
                   F.col("w").alias("wa"))
    pb = pw.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    shared = (cand.join(pa, "id_a").join(pb, ["id_b", "shingle"])
              .groupBy("id_a", "id_b")
              .agg(F.sum("wa").alias("shared_w")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("W").alias("W_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("W").alias("W_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard_w",
                        F.col("shared_w")
                        / (F.col("W_a") + F.col("W_b")
                           - F.col("shared_w")))
            .where(F.col("jaccard_w") >= float(threshold))
            .select("id_a", "id_b", "shared_w", "jaccard_w"))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 64,
                       shingles: DataFrame | None = None) -> DataFrame:
    """MinHash signature per document: (id, sig array<long>).

    h_i(shingle) = xxhash64(shingle, seed=i); signature_i = min over the
    doc's shingles. One explode + one groupBy — the signature is
    constant-size however large the document. Pass a pre-computed (and
    persisted) ``shingles`` frame to share the explode across operators.
    """
    if shingles is None:
        shingles = word_shingles(df, id_col, text_col, n)
    agg = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
           for i in range(num_hashes)]
    sig = shingles.groupBy(id_col).agg(*agg)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def _band_buckets(sig: DataFrame, id_col: str, num_hashes: int,
                  bands: int) -> DataFrame:
    """(id, band, bh) bucket rows from a signature frame: each band's
    rows hashed to one 8-byte bucket key."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.element_at(F.col("sig"),
                                           b * rows_per_band + r + 1)
                              for r in range(rows_per_band)]).alias("bh"))
        for b in range(bands)
    ]
    # band array materialized in a codegen'd Project BEFORE the
    # explode (round-10): a Generate's generator expression evaluates
    # interpreted, so the per-row element_at/xxhash64 batch ran in the
    # interpreted evaluator when inlined. Identical rows.
    return (sig.select(F.col(id_col),
                       F.array(*band_cols).alias("__bk_arr"))
            .select(F.col(id_col), F.explode("__bk_arr").alias("bk"))
            .select(F.col(id_col), F.col("bk.band"), F.col("bk.bh")))


def lsh_plan(threshold: float, num_hashes: int = 64) -> dict:
    """Pick the LSH banding for a target Jaccard threshold — the
    calculator every MinHash deployment needs before touching data
    (pure Python, no DataFrame): for ``b`` bands of ``r`` rows the
    candidate probability at similarity ``s`` is ``1−(1−s^r)^b``, and
    the quality of a banding is how sharply that S-curve steps at the
    threshold. Among the divisor pairs ``b·r = num_hashes`` this
    returns the one whose curve midpoint ``(1/b)^(1/r)`` lands
    closest to ``threshold`` (the standard rule from Mining of
    Massive Datasets §3.4), plus the numbers a capacity plan needs.

    Returns ``{bands, rows_per_band, midpoint, p_at_threshold,
    p_candidate(s) curve points}`` — ``p_at_threshold`` is the recall
    of the banding AT the threshold; candidates below threshold are
    false positives the exact verify stage removes (cost, not
    correctness).
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        if r == 1:
            # r = 1 degenerates to "any equal hash" — every pair
            # sharing one minhash collides; never the right plan
            # (b = 1, r = num_hashes always remains as a candidate)
            continue
        mid = (1.0 / b) ** (1.0 / r)
        cand = (b, r, mid)
        if best is None or abs(mid - threshold) < abs(best[2]
                                                      - threshold):
            best = cand
    b, r, mid = best
    p_at = 1.0 - (1.0 - threshold ** r) ** b
    curve = {round(s, 2): 1.0 - (1.0 - s ** r) ** b
             for s in (0.2, 0.4, 0.5, 0.6, 0.8, 0.9)}
    return {"bands": b, "rows_per_band": r, "midpoint": mid,
            "p_at_threshold": p_at, "curve": curve}


def _cap_buckets(buckets: DataFrame, max_bucket_size: int | None,
                 shed_stats: dict | None = None) -> DataFrame:
    """Per-bucket candidate cap shared by the banded-LSH enumerators
    (:func:`minhash_lsh_pairs`, :func:`icws_lsh_pairs`): drop every
    (band, bh) bucket holding more than ``max_bucket_size`` docs
    BEFORE the self-join — the bucket analogue of
    ``max_shingle_freq`` (:func:`_capped_posting_lists`), closing the
    one degenerate input the banding itself can't: a corpus slab of
    near-identical boilerplate collapses whole bands to one hash and
    a single bucket of b docs yields O(b²) candidates.

    Shedding an oversized bucket only loses pairs whose EVERY
    colliding band is oversized — at production caps (1k-10k) that is
    precisely the all-identical boilerplate a cheaper
    :func:`exact_dedup` pre-pass removes, the standard skip-hot-
    buckets LSH discipline. The window count is a shuffle on the SAME
    (band, bh) key the self-join pays anyway, so the cap adds no new
    exchange. ``shed_stats`` (a dict) receives
    ``{"shed_buckets": n, "shed_rows": m}`` — one tiny extra
    aggregate job, skipped when the caller doesn't ask."""
    if max_bucket_size is None:
        return buckets
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 (a bucket of "
                         "1 yields no pairs)")
    from pyspark.sql import Window
    w = Window.partitionBy("band", "bh")
    sized = buckets.withColumn("__bsz", F.count(F.lit(1)).over(w))
    if shed_stats is not None:
        over = (sized.where(F.col("__bsz") > max_bucket_size)
                .agg(F.count_distinct("band", "bh")
                     .alias("shed_buckets"),
                     F.count(F.lit(1)).alias("shed_rows")).first())
        shed_stats["shed_buckets"] = int(over["shed_buckets"])
        shed_stats["shed_rows"] = int(over["shed_rows"])
    # a singleton bucket yields only the self-pair the enumerators
    # exclude, so its rows are dead weight in the self-join — the
    # bucket analogue of :func:`_pairable_postings` (round-11,
    # output-identical). This runs only on the capped path (the
    # uncapped default returned above and keeps its singletons): the
    # window count is already on every row here, so on a real corpus,
    # where most buckets hold one doc, a capped run sheds the bulk of
    # the join input for one extra codegen'd comparison.
    return sized.where((F.col("__bsz") >= 2)
                       & (F.col("__bsz") <= max_bucket_size)) \
        .drop("__bsz")


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5,
                      verify: bool = True,
                      shingles: DataFrame | None = None,
                      owned_frames: list | None = None,
                      max_bucket_size: int | None = None,
                      shed_stats: dict | None = None) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    Signatures are banded (``bands`` bands of ``num_hashes/bands`` rows);
    docs agreeing on any whole band become candidates (bucket equi-join on
    the band hash — no cross product). ``verify=True`` re-checks
    candidates with exact n-gram Jaccard and filters at ``threshold``.
    Output: (id_a, id_b[, jaccard]).

    Pass a pre-persisted ``shingles`` frame to share the explode with
    other operators. ``owned_frames`` (a list) collects the frames this
    call persists so a long-lived caller (e.g. the incremental deduper)
    can unpersist them once the result is materialized — otherwise
    repeated calls accumulate cached intermediates for the session's
    lifetime.

    ``max_bucket_size`` bounds the worst bucket's candidate fan-out to
    O(cap²) (see :func:`_cap_buckets`); default None = exact banding
    semantics. At corpus scale run :func:`exact_dedup` first, then a
    cap of ~1000 — pair counts stay output-bound instead of
    boilerplate-bound.
    """
    if shingles is None:
        shingles = word_shingles(df, id_col, text_col, n,
                                 hashed=True).persist()
        if owned_frames is not None:
            owned_frames.append(shingles)
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes,
                             shingles=shingles)
    buckets = _cap_buckets(
        _band_buckets(sig, id_col, num_hashes, bands),
        max_bucket_size, shed_stats) \
        .persist()  # both sides of the bucket self-join reuse this
    if owned_frames is not None:
        owned_frames.append(buckets)
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    candidates = (left.join(right, ["band", "bh"])
                  .where(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b").distinct())
    if not verify:
        return candidates
    return (jaccard_for_pairs(candidates, df, id_col, text_col, n,
                              shingles=shingles,
                              owned_frames=owned_frames)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def jaccard_for_pairs(candidates: DataFrame, df: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3,
                      shingles: DataFrame | None = None,
                      owned_frames: list | None = None) -> DataFrame:
    """Exact Jaccard restricted to given (id_a, id_b) candidate pairs.

    Cost is |candidates| × shingles-per-doc (a candidate-bounded join),
    never the all-pairs inverted-index blow-up — this is what makes
    LSH-then-verify cheap at corpus scale.

    ``owned_frames`` (a list) collects the frames this call persists —
    the per-doc size frame, plus the shingle explode when not supplied
    — so long-lived callers (the incremental deduper's batch loop) can
    unpersist them once the result is materialized.
    """
    if shingles is None:
        shingles = word_shingles(df, id_col, text_col, n,
                                 hashed=True).persist()
        if owned_frames is not None:
            owned_frames.append(shingles)
    # joined on both pair sides below — persist so the aggregate over
    # the full shingle frame runs once, not once per alias (round-10).
    sizes = shingles.groupBy(id_col) \
        .agg(F.count(F.lit(1)).alias("sz")).persist()
    if owned_frames is not None:
        owned_frames.append(sizes)
    sh_a = shingles.select(F.col(id_col).alias("id_a"),
                           F.col("shingle"))
    sh_b = shingles.select(F.col(id_col).alias("id_b"),
                           F.col("shingle"))
    shared = (candidates.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("shared")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("shared")))
            .select("id_a", "id_b", "jaccard"))


def drop_near_dups(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3,
                   threshold: float = 0.5,
                   max_shingle_freq: int | None = 100,
                   method: str = "auto",
                   auto_minhash_above: int = 100_000,
                   transitive: bool = False,
                   measure: str = "jaccard",
                   owned_frames: list | None = None) -> DataFrame:
    """Corpus scrub: keep one survivor per near-duplicate pair.

    Greedy keep-lowest-id policy: any document that appears as the
    higher id of a pair with jaccard >= threshold is dropped (the
    standard single-pass policy for training-data dedup). On
    chain-shaped components the greedy policy can keep more than one
    member (pairs (1,3),(2,3) keep both 1 and 2); ``transitive=True``
    instead closes the pair graph with
    :func:`connected_components` and keeps exactly the minimum id of
    every cluster — O(log diameter) extra rounds, strictly fewer
    survivors. One anti-join against the loser set either way.

    ``method='exact'`` generates pairs from the full inverted index
    (exact recall, cost Σ freq² — fine for small corpora but the Σfreq²
    term grows ~quadratically in the frequency cap at scale);
    ``method='minhash'`` generates candidates from LSH bands then
    verifies exactly — the constant-signature path that survives 10^9
    docs. ``method='auto'`` (default) picks minhash above
    ``auto_minhash_above`` documents (one column-pruned count) so the
    scale-safe path engages automatically — the exact inverted index is
    never the default on a large corpus.

    ``measure='weighted'`` scrubs under the rarity-WEIGHTED Jaccard
    instead (:func:`weighted_jaccard_pairs` semantics — shared
    boilerplate counts less, shared rare content more): the exact
    tier is the weighted inverted index, the minhash tier is ICWS
    banding + candidate-bounded exact verify
    (:func:`icws_lsh_pairs`). Same survivor policies either way.
    """
    if measure not in ("jaccard", "weighted"):
        raise ValueError("measure must be 'jaccard' or 'weighted'")
    if method == "auto":
        method = ("minhash" if df.count() > auto_minhash_above
                  else "exact")
    if measure == "weighted":
        if method == "minhash":
            pairs = icws_lsh_pairs(df, id_col, text_col, n,
                                   threshold=threshold,
                                   max_shingle_freq=max_shingle_freq,
                                   owned_frames=owned_frames)
        else:
            pairs = weighted_jaccard_pairs(
                df, id_col, text_col, n, threshold, max_shingle_freq,
                owned_frames=owned_frames)
    elif method == "minhash":
        pairs = minhash_lsh_pairs(df, id_col, text_col, n,
                                  threshold=threshold,
                                  owned_frames=owned_frames)
    else:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold,
                                    max_shingle_freq,
                                    owned_frames=owned_frames)
    if transitive:
        comp = connected_components(pairs, "id_a", "id_b", id_col)
        losers = comp.where(F.col(id_col) != F.col("component")) \
                     .select(id_col)
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", id_col: str = "doc_id",
                         component_col: str = "component",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected pair list: every node that
    appears in ``pairs`` is labeled with the minimum id reachable from it
    (the canonical cluster representative).

    This is the missing transitive step between *pair generation*
    (ngram/minhash/simhash/cosine) and *cluster-level* dedup decisions:
    the greedy pair policy in :func:`drop_near_dups` can keep two
    survivors from one chain-shaped component (pairs (1,3),(2,3) keep
    both 1 and 2), while components give exactly one representative.

    Scale shape — min-label propagation accelerated with pointer
    jumping (the PRAM-era trick behind every O(log n) MapReduce/BSP
    connected-components variant): each round every node first adopts
    ``min(self, neighbor labels)`` (one join on the static symmetric
    edge list + one groupBy), then labels are chased one level through
    the label table itself (``label := label(label)``), so label
    distances compound geometrically — O(log diameter) rounds where
    naive propagation needs O(diameter). A 10⁵-node path converges in
    ~17 rounds; near-dup graphs are unions of near-cliques and finish
    in 2-3. Lineage is truncated per round with ``localCheckpoint``
    (the standard guard for iterative DataFrame algorithms — without
    it round k replays rounds 1..k-1); the edge list is checkpointed
    once and reused. Convergence is an any-label-changed check, one
    small action per round.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
             .where(F.col("a") != F.col("b"))
    edges = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .select("node", F.col("node").alias("lab"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        # one-hop: min label over the neighborhood
        nbr = (edges.join(labels.select(F.col("node").alias("b"),
                                        F.col("lab").alias("nlab")), "b")
               .groupBy("a").agg(F.min("nlab").alias("m"))
               .select(F.col("a").alias("node"), "m"))
        hop = (labels.join(nbr, "node", "left")
               .select("node",
                       F.least("lab", F.coalesce("m", "lab")).alias("lab")))
        # pointer jump: follow the label's own label one level
        thru = hop.select(F.col("node").alias("lab"),
                          F.col("lab").alias("lab2"))
        new_labels = (hop.join(thru, "lab", "left")
                      .select("node",
                              F.coalesce("lab2", "lab").alias("lab"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.lab") != F.col("o.lab"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col),
                         F.col("lab").alias(component_col))


def dup_clusters(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 threshold: float = 0.5,
                 max_shingle_freq: int | None = 100,
                 method: str = "auto",
                 auto_minhash_above: int = 100_000) -> DataFrame:
    """Transitive near-duplicate clusters: (id, component, cluster_size).

    Pairs from the chosen method (see :func:`drop_near_dups`) are closed
    under transitivity via :func:`connected_components`; the component
    label is the minimum doc id of the cluster. Only clustered documents
    appear (singletons are trivially their own cluster).

    ``method='auto'`` (default) matches :func:`drop_near_dups`: LSH-band
    candidates above ``auto_minhash_above`` documents, so clustering a
    large corpus with defaults never takes the Σfreq² inverted-index
    path.
    """
    if method == "auto":
        method = ("minhash" if df.count() > auto_minhash_above
                  else "exact")
    if method == "minhash":
        pairs = minhash_lsh_pairs(df, id_col, text_col, n,
                                  threshold=threshold)
    else:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold,
                                    max_shingle_freq)
    comp = connected_components(pairs, "id_a", "id_b", id_col)
    from pyspark.sql import Window
    w = Window.partitionBy("component")
    return comp.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def keep_best_survivor(df: DataFrame, quality_col: str,
                       id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       threshold: float = 0.5,
                       max_shingle_freq: int | None = 100,
                       method: str = "auto",
                       auto_minhash_above: int = 100_000) -> DataFrame:
    """Quality-aware corpus scrub: one survivor per transitive
    near-duplicate cluster — the member with the HIGHEST
    ``quality_col`` (ties break to the minimum id, so the result is
    deterministic). :func:`drop_near_dups` keeps the lowest id, which
    is arbitrary; a training-data pipeline that has already scored
    documents (Gopher/C4 filters, model-based quality) wants the
    boilerplate-ridden copies dropped and the cleanest copy kept —
    this is that policy. Documents in no near-dup pair pass through
    untouched.

    Scale shape: pair generation is the chosen tier's (LSH-banded
    above ``auto_minhash_above``, same as :func:`drop_near_dups`),
    the transitive closure is :func:`connected_components`'
    pointer-jumped min-label rounds, and the selection itself is ONE
    row_number window per cluster over the cluster-membership frame
    (clusters-sized, not corpus-sized) + one anti-join back.
    """
    if quality_col not in df.columns:
        raise ValueError(f"quality column {quality_col!r} not in "
                         f"frame columns {df.columns}")
    if method == "auto":
        method = ("minhash" if df.count() > auto_minhash_above
                  else "exact")
    if method == "minhash":
        pairs = minhash_lsh_pairs(df, id_col, text_col, n,
                                  threshold=threshold)
    else:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold,
                                    max_shingle_freq)
    comp = connected_components(pairs, "id_a", "id_b", id_col)
    from pyspark.sql import Window
    ranked = comp.join(df.select(id_col, quality_col), id_col)
    w = (Window.partitionBy("component")
         .orderBy(F.col(quality_col).desc(), F.col(id_col).asc()))
    losers = (ranked.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") > 1).select(id_col))
    return df.join(losers, id_col, "left_anti")


def soft_dedup_weights(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       threshold: float = 0.5,
                       max_shingle_freq: int | None = 100,
                       method: str = "auto",
                       auto_minhash_above: int = 100_000) -> DataFrame:
    """Soft deduplication: keep EVERY document but down-weight
    duplicate clusters so each cluster contributes one document's
    worth of sampling mass — ``weight = 1 / cluster_size`` (SoftDeDup,
    He et al. 2024 reweighting instead of removal; the weights feed
    :func:`~pydin_spark.operators.curation.sample_weighted` or a
    trainer's example-weight column). Removal (``drop_near_dups``)
    loses the information that a document was heavily duplicated —
    often itself a quality signal; reweighting preserves the corpus
    while flattening duplicate mass.

    Clusters are the transitive closure from :func:`dup_clusters`
    (same pair method/threshold knobs); every document NOT in any
    near-dup pair is its own singleton — size 1, weight 1.0. The
    weight is ONE division of exact BIGINTs, bit-identical across
    engines (the lcc/dist_drift float convention), so the operator is
    value-exact against its SQL oracle.

    Scale shape: the pair/component cost is :func:`dup_clusters`'s
    (LSH-banded above ``auto_minhash_above``); on top of it, one
    node-sized left join back to the corpus ids — nothing else.

    Output: (``id_col``, cluster_size BIGINT, weight DOUBLE), one row
    per input document.
    """
    clusters = dup_clusters(df, id_col, text_col, n, threshold,
                            max_shingle_freq, method,
                            auto_minhash_above) \
        .select(id_col, "cluster_size")
    out = (df.select(id_col).join(clusters, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("cluster_size", F.lit(1)).cast("long")
                   .alias("cluster_size")))
    return out.withColumn(
        "weight",
        F.try_divide(F.lit(1.0),
                     F.col("cluster_size").cast("double")))


def _simhash_bits(hash_fn: str) -> int:
    """Signature width per token-hash choice: xxhash64 gives 64 bits;
    the cross-engine md5 variant uses the first 15 hex chars = 60 bits
    (fits a positive BIGINT in both Spark and DuckDB)."""
    return 64 if hash_fn == "xxhash64" else 60


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash per document from token hashes.

    bit_j(doc) = 1 iff Σ_token (±1 by bit j of hash(token)) > 0.
    Implemented as explode + one hash-aggregate with per-bit conditional
    sums — all whole-stage-codegen (the array-fold formulation runs on
    the interpreted higher-order-function path and is ~10× slower). One
    shuffle on the doc id.

    ``hash_fn``: 'xxhash64' (default, fastest — JVM hash) or 'md5'
    (60-bit from the md5 hex prefix; md5 exists in DuckDB too, which
    makes the whole operator independently reproducible by the SQL
    oracle — the correctness-gate configuration).
    """
    bits = _simhash_bits(hash_fn)
    exploded = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " ")))
        .alias("__tok"))
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.col("__tok"))
    elif hash_fn == "md5":
        h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10) \
            .cast("long")
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    sums = [
        F.sum(F.when(F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*sums)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        # shiftleft instead of a (1 << j) literal: 1 << 63 overflows long
        sim = sim + F.when(
            F.col(f"b{j}") > 0,
            F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 8,
                  hash_fn: str = "xxhash64",
                  owned_frames: list | None = None) -> DataFrame:
    """Near-dup candidate pairs by SimHash hamming distance.

    Banding: split the signature into 4×16-bit chunks; by pigeonhole
    any pair within hamming distance 3·k shares a chunk — join on chunk
    equality, then verify the exact hamming distance. Avoids O(n²).
    ``owned_frames`` (a list) collects the persisted signature frame so
    a long-lived caller can unpersist it once the result is
    materialized (ADVICE r10).
    """
    # the signature aggregate (token explode + 64 bit-position sums)
    # feeds both sides of the chunk-bucket self-join below — persist
    # so it runs once, not once per alias (round-10).
    sig = simhash(df, id_col, text_col, hash_fn).persist()
    if owned_frames is not None:
        owned_frames.append(sig)
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("simhash"), c * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("ck"))
        for c in range(4)
    ])
    buckets = (sig.select(F.col(id_col), F.col("simhash"),
                          F.explode(chunks).alias("b"))
               .select(F.col(id_col), "simhash",
                       F.col("b.chunk"), F.col("b.ck")))
    left = buckets.select(F.col(id_col).alias("id_a"),
                          F.col("simhash").alias("sh_a"), "chunk", "ck")
    right = buckets.select(F.col(id_col).alias("id_b"),
                           F.col("simhash").alias("sh_b"), "chunk", "ck")
    pairs = (left.join(right, ["chunk", "ck"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


class IncrementalDeduper:
    """Near-duplicate checking of new batches against a *persisted*
    corpus state — dedup for a growing corpus without recomputing
    anything over the docs already ingested (the engine's incremental
    watermark philosophy applied to dedup; cf. the reference's
    last-value loads, ``/root/reference/pydin/models.py`` watermark
    fields, re-expressed for similarity state).

    State (parquet under ``path``), every table carrying a ``batch``
    commit id:

    - ``buckets/``  — (id, band, bh) minhash-LSH band buckets,
    - ``shingles/`` — (id, shingle) hashed shingle postings, files
      sorted by id so candidate-id pushdown prunes row groups,
    - ``sizes/``    — (id, sz) per-doc distinct-shingle counts,
      written once at ingest so ``check`` never re-aggregates the
      postings table,
    - ``commits/``  — one row per committed batch id. Readers filter
      every state table to committed batches (broadcast semi-join), so
      the three appends above commit **atomically**: a crash mid-append
      leaves orphan rows that are invisible forever (and swept by
      ``maintain``), never a bucket row without its postings.

    ``check(new)`` finds near-dup pairs between a new batch and the
    state: candidates from a bucket equi-join (new buckets × state
    buckets — never a cross product), then **exact** n-gram Jaccard
    verification via the stored shingle postings of just the candidate
    ids. When the candidate-id set is small enough
    (``max_pushdown_ids``, the overwhelmingly common case — it is
    bounded by batch size × bucket hit rate, not corpus size) the ids
    are pushed into the parquet reads of ``shingles/`` and ``sizes/``
    as an ``In`` filter, and the batch's bucket hashes (≤ batch×bands)
    into the ``buckets/`` read the same way — all four state tables are
    written sorted on their probe key, so row-group pruning makes state
    scan bytes track the *batch*, not the corpus. ``ingest`` appends
    the survivors' state and returns them; batches also dedup against
    themselves before entering the state.

    The state grows linearly in surviving docs; per-batch cost depends
    on the batch size and bucket hit rate only — ingesting batch k
    never rescans batches 1..k-1's text, and no per-batch plan
    aggregates an entire state table (sizes are persisted, not
    recomputed).
    """

    def __init__(self, path: str, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 num_hashes: int = 32, bands: int = 8,
                 threshold: float = 0.5,
                 max_pushdown_ids: int = 20000):
        self.path = str(path).rstrip("/")
        self.id_col, self.text_col, self.n = id_col, text_col, n
        self.num_hashes, self.bands = num_hashes, bands
        self.threshold = threshold
        self.max_pushdown_ids = max_pushdown_ids

    _TABLES = ("buckets", "shingles", "sizes")

    def _table_path(self, name: str):
        return f"{self.path}/{name}"

    def _bucket_path(self):
        return self._table_path("buckets")

    def _shingle_path(self):
        return self._table_path("shingles")

    def _has_state(self, spark):
        # probe through the Spark reader, not os.path — the state can
        # live on any Hadoop-compatible filesystem (hdfs://, s3a://...)
        try:
            spark.read.parquet(self._table_path("commits")).schema
            return True
        except Exception as exc:  # noqa: BLE001 - classify, don't blanket
            text = f"{type(exc).__name__}: {exc}"
            if ("PATH_NOT_FOUND" in text or "Path does not exist" in text
                    or "UNABLE_TO_INFER_SCHEMA" in text
                    or "Unable to infer schema" in text):
                return False
            raise

    def _read_committed(self, spark, name: str) -> DataFrame:
        """A state table restricted to committed batches — the
        broadcast semi-join on the (tiny) commits table is a map-side
        filter, no shuffle."""
        df = spark.read.parquet(self._table_path(name))
        commits = spark.read.parquet(self._table_path("commits"))
        return (df.join(F.broadcast(commits), "batch", "left_semi")
                .drop("batch"))

    def _new_state(self, docs: DataFrame, owned: list | None = None):
        sh = word_shingles(docs, self.id_col, self.text_col, self.n,
                           hashed=True).persist()
        if owned is not None:
            owned.append(sh)
        sig = minhash_signatures(docs, self.id_col, self.text_col,
                                 self.n, self.num_hashes, shingles=sh)
        buckets = _band_buckets(sig, self.id_col, self.num_hashes,
                                self.bands)
        return sh, buckets

    def check(self, docs: DataFrame) -> DataFrame:
        """Pairs (id_new, id_old, jaccard >= threshold) between the
        batch and the persisted corpus state. Empty when no state.

        The result is materialized (``localCheckpoint``) and the call's
        cached intermediates released, so repeated checks/ingests keep a
        bounded cache footprint however long the deduper lives.
        """
        owned: list = []
        out = self._check_lazy(docs, owned)
        if owned:
            out = out.localCheckpoint(eager=True)
            for frame in owned:
                frame.unpersist()
        return out

    def _empty_pairs(self, docs: DataFrame) -> DataFrame:
        # the pair schema follows the configured id column's type —
        # string doc ids get string id_new/id_old, not a hardcoded long
        from pyspark.sql.types import DoubleType, StructField, StructType
        id_type = docs.schema[self.id_col].dataType
        return docs.sparkSession.createDataFrame(
            [], StructType([StructField("id_new", id_type),
                            StructField("id_old", id_type),
                            StructField("jaccard", DoubleType())]))

    def _check_lazy(self, docs: DataFrame, owned: list) -> DataFrame:
        spark = docs.sparkSession
        id_c = self.id_col
        if not self._has_state(spark):
            return self._empty_pairs(docs)
        new_sh, new_buckets = self._new_state(docs, owned)
        new_buckets = new_buckets.persist()
        owned.append(new_buckets)
        st_buckets = self._read_committed(spark, "buckets")
        # bucket-key pushdown, same contract as the id pushdown below:
        # the batch touches ≤ batch×bands bucket hashes; within the cap,
        # push them into the bucket-state scan (files sorted by bh →
        # row-group pruning), so even the bucket table read tracks the
        # batch rather than the corpus
        batch_bhs = [r["bh"] for r in
                     new_buckets.select("bh").distinct()
                     .limit(self.max_pushdown_ids + 1).collect()]
        if len(batch_bhs) <= self.max_pushdown_ids:
            st_buckets = st_buckets.where(F.col("bh").isin(batch_bhs))
        cand = (new_buckets.select(F.col(id_c).alias("id_new"),
                                   "band", "bh")
                .join(st_buckets.select(F.col(id_c).alias("id_old"),
                                        "band", "bh"),
                      ["band", "bh"])
                .select("id_new", "id_old").distinct()
                .persist())
        owned.append(cand)
        st_sh = self._read_committed(spark, "shingles")
        st_sizes = self._read_committed(spark, "sizes")
        # candidate-id pushdown: the candidate set is batch-bounded by
        # construction (batch size × bucket hit rate); when it fits the
        # cap, push it into the parquet scans so row groups outside the
        # touched ids never leave disk. The collect is bounded by
        # max_pushdown_ids + 1 rows.
        old_ids = [r["id_old"] for r in
                   cand.select("id_old").distinct()
                       .limit(self.max_pushdown_ids + 1).collect()]
        if len(old_ids) <= self.max_pushdown_ids:
            st_sh = st_sh.where(F.col(id_c).isin(old_ids))
            st_sizes = st_sizes.where(F.col(id_c).isin(old_ids))
        ns = new_sh.select(F.col(id_c).alias("id_new"), "shingle")
        os_ = st_sh.select(F.col(id_c).alias("id_old"), "shingle")
        shared = (cand.join(ns, "id_new")
                  .join(os_, ["id_old", "shingle"])
                  .groupBy("id_new", "id_old")
                  .agg(F.count(F.lit(1)).alias("shared")))
        sz_new = new_sh.groupBy(id_c).agg(F.count(F.lit(1)).alias("sz")) \
            .select(F.col(id_c).alias("id_new"), F.col("sz").alias("sz_n"))
        # old sizes come from the persisted sizes/ table — never a
        # groupBy over the postings state (that aggregate would scan
        # the full corpus every batch)
        sz_old = st_sizes.select(F.col(id_c).alias("id_old"),
                                 F.col("sz").alias("sz_o"))
        return (shared.join(sz_new, "id_new").join(sz_old, "id_old")
                .withColumn("jaccard",
                            F.col("shared")
                            / (F.col("sz_n") + F.col("sz_o")
                               - F.col("shared")))
                .where(F.col("jaccard") >= self.threshold)
                .select("id_new", "id_old", "jaccard"))

    def _append_state(self, survivors: DataFrame, owned: list) -> None:
        """Append the survivors' state rows under a fresh batch id and
        commit it. The commit row goes last: readers ignore every state
        row whose batch id has no commit row, so a crash anywhere in
        this sequence is invisible (atomic multi-table append)."""
        import uuid
        spark = survivors.sparkSession
        batch_id = uuid.uuid4().hex
        tag = F.lit(batch_id).alias("batch")
        sh, buckets = self._new_state(survivors, owned)
        # sort buckets by bh inside each file: the batch bucket-key In
        # filter then prunes row groups via min/max stats
        buckets.select("*", tag).sortWithinPartitions("bh") \
            .write.mode("append").parquet(self._table_path("buckets"))
        # sort postings by id inside each file: candidate-id In filters
        # then prune row groups via min/max stats
        sh.select("*", tag).sortWithinPartitions(self.id_col) \
            .write.mode("append").parquet(self._table_path("shingles"))
        sizes = sh.groupBy(self.id_col).agg(
            F.count(F.lit(1)).alias("sz"))
        sizes.select("*", tag).write.mode("append") \
            .parquet(self._table_path("sizes"))
        spark.createDataFrame([(batch_id,)], "batch string") \
            .write.mode("append").parquet(self._table_path("commits"))

    def ingest(self, docs: DataFrame,
               survivors_path: str | None = None) -> DataFrame:
        """Dedup the batch within itself and against the state, append
        the survivors' state rows, return the surviving documents.

        With ``survivors_path`` the survivors are written to the sink
        **before** the state append: if the job dies between the two,
        the replayed batch re-runs against a state that does not yet
        contain it, recomputes the same survivors, and re-appends them
        — at-least-once to the sink (dedup downstream by id for
        exactness), never silent loss. Survivors are materialized and
        every frame this call persisted is released before returning
        (bounded cache across batches)."""
        id_c = self.id_col
        owned: list = []
        within = minhash_lsh_pairs(docs, id_c, self.text_col, self.n,
                                   self.num_hashes, self.bands,
                                   self.threshold, owned_frames=owned)
        batch_losers = within.select(F.col("id_b").alias(id_c)).distinct()
        batch = docs.join(batch_losers, id_c, "left_anti")
        vs_state = self._check_lazy(batch, owned)
        state_losers = vs_state.select(F.col("id_new").alias(id_c)) \
            .distinct()
        survivors = batch.join(state_losers, id_c, "left_anti") \
            .localCheckpoint(eager=True)
        if survivors_path is not None:
            survivors.write.mode("append").parquet(survivors_path)
        self._append_state(survivors, owned)
        for frame in owned:
            frame.unpersist()
        return survivors

    def maintain(self, spark, max_files: int = 64,
                 checkpoint_above: int = 1000) -> dict:
        """Compact any state table fragmented past ``max_files`` small
        files (each ingest appends one file set; at high batch cadence
        the read side degrades without this), sweeping uncommitted
        orphan rows from crashed appends in the same rewrite. When the
        commit log exceeds ``checkpoint_above`` batches,
        :meth:`checkpoint_state` collapses them first — the commit
        table is broadcast on every read and must stay bounded. Uses
        the engine's atomic staged-rewrite compaction. Returns
        per-table before/after stats for tables it touched."""
        from ..functions.maintenance import compact, dataset_stats
        out = {}
        try:
            n_commits = spark.read.parquet(
                self._table_path("commits")).count()
        except Exception:  # noqa: BLE001 - no state yet
            return out
        if n_commits > checkpoint_above:
            out["checkpoint"] = self.checkpoint_state(spark)
        for name in self._TABLES + ("commits",):
            path = self._table_path(name)
            try:
                stats = dataset_stats(spark, path)
            except Exception:  # noqa: BLE001 - no state yet
                continue
            if stats["files"] > max_files:
                keep = None
                if name != "commits":
                    commits = spark.read.parquet(
                        self._table_path("commits"))
                    keep = F.col("batch").isin(
                        [r["batch"] for r in commits.collect()])
                out[name] = compact(spark, path, row_filter=keep)
        return out

    def checkpoint_state(self, spark) -> dict:
        """Collapse every committed batch into ONE batch id, bounding
        the commit log however many ingests the deduper has absorbed
        (1 row/batch otherwise — broadcast per read and collected in
        ``maintain``, so it must not grow forever).

        Crash-safe by the same visibility rule as ingest: (1) the
        merged rows are APPENDED under a fresh batch id — invisible
        until committed, so a crash here changes nothing; (2) the
        commit log is atomically replaced (staged dir + rename) with
        the single merged id — before the swap readers see exactly the
        old batches, after it exactly the merged copy, never both and
        never neither; (3) the now-dead per-batch rows are swept by the
        compaction pass that follows (they are uncommitted from step 2
        on, so correctness never depends on the sweep)."""
        import uuid

        from .. import fs

        merged = uuid.uuid4().hex
        tag = F.lit(merged).alias("batch")
        sort_key = {"buckets": "bh", "shingles": self.id_col,
                    "sizes": self.id_col}
        n_before = spark.read.parquet(self._table_path("commits")).count()
        for name in self._TABLES:
            df = self._read_committed(spark, name)
            df.select("*", tag).sortWithinPartitions(sort_key[name]) \
                .write.mode("append").parquet(self._table_path(name))
        commits_path = self._table_path("commits")
        staging = commits_path + ".__checkpoint__"
        spark.createDataFrame([(merged,)], "batch string") \
            .write.mode("overwrite").parquet(staging)
        fs.replace_dir(spark, staging, commits_path)
        spark.catalog.refreshByPath(commits_path)
        return {"batches_before": n_before, "merged_batch": merged}

    def ingest_stream(self, stream_df: DataFrame, checkpoint: str,
                      survivors_path: str | None = None,
                      trigger_once: bool = True,
                      compact_every: int | None = 20):
        """Streaming front door: every micro-batch from the landing
        zone is ingested (within-batch dedup + vs-state check + state
        append); survivors optionally appended to ``survivors_path``.
        State compaction runs every ``compact_every`` batches. Returns
        the started StreamingQuery. Correctness under replay: the
        survivors sink is written before the state commit (see
        ``ingest``), so a crash replays the batch against pre-batch
        state and re-derives the same survivors — at-least-once to the
        sink, exactly-once to the state (uncommitted appends are
        invisible and swept by ``maintain``).
        """
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.ingest(batch_df, survivors_path=survivors_path)
            if compact_every and batch_id > 0 \
                    and batch_id % compact_every == 0:
                self.maintain(batch_df.sparkSession)

        writer = (stream_df.writeStream
                  .foreachBatch(_sink)
                  .outputMode("update")
                  .option("checkpointLocation", checkpoint))
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def cluster_stats(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
                  weight_col: str | None = "jaccard") -> DataFrame:
    """Per-cluster diagnostics over a near-dup pair list: component
    label (min id), member count, in-cluster pair count, and the
    min/max pair weight (similarity spread — a tight cluster has
    min≈max; a chained one has a long tail).

    One components run plus two aggregates keyed on the component id;
    no quadratic work beyond the pairs already in hand.
    """
    comp = connected_components(pairs, src, dst, "node")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    edge_comp = pairs.join(
        comp.select(F.col("node").alias(src), "component"), src)
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    if weight_col is not None:
        aggs += [F.min(weight_col).alias("min_weight"),
                 F.max(weight_col).alias("max_weight")]
    per_edge = edge_comp.groupBy("component").agg(*aggs)
    return sizes.join(per_edge, "component")


def pick_cluster_survivors(df: DataFrame, pairs: DataFrame,
                           id_col: str = "doc_id",
                           order_col: str | None = None,
                           descending: bool = True) -> DataFrame:
    """One survivor per near-dup cluster, everything else dropped.

    Default policy keeps the minimum id; with ``order_col`` the member
    with the best value wins (e.g. ``quality`` or ``n_tokens``,
    ``descending=True`` = highest wins), ties broken by id — total
    order, so the result is deterministic. Documents in no cluster pass
    through untouched. Cost: the components run + one ranking window
    keyed by component + one anti-join.
    """
    comp = connected_components(pairs, "id_a", "id_b", id_col)
    members = df.join(comp, id_col)
    from pyspark.sql import Window
    if order_col is None:
        order = [F.col(id_col).asc()]
    else:
        order = [F.col(order_col).desc() if descending
                 else F.col(order_col).asc(), F.col(id_col).asc()]
    w = Window.partitionBy("component").orderBy(*order)
    losers = (members.withColumn("rnk", F.row_number().over(w))
              .where(F.col("rnk") > 1).select(id_col))
    return df.join(losers, id_col, "left_anti")


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.9,
                      max_shingle_freq: int | None = 100,
                      max_projected_pairs: int | None =
                      DEFAULT_MAX_PROJECTED_PAIRS,
                      owned_frames: list | None = None) -> DataFrame:
    """Asymmetric near-duplicate detection by n-gram CONTAINMENT
    (Broder 1997): ``containment(a in b) = |A∩B| / |A|`` over distinct
    word n-grams — how much of document *a* also appears in *b*. The
    shape Jaccard structurally misses: an article republished inside a
    much longer page has tiny Jaccard (the wrapper dilutes the union)
    but containment ≈ 1, which is exactly the quote/subset/wrapped-
    boilerplate case a training-corpus scrub needs to catch.

    Output: (id_a, id_b, containment) — DIRECTED rows, a ≠ b, a's
    n-grams contained in b at >= ``threshold``; both directions can
    appear (and for true near-identical pairs both will). Docs with
    fewer than ``n`` tokens have no n-grams and produce no rows, as in
    every shingle operator here.

    Scale shape: identical substrate to :func:`ngram_jaccard_pairs`
    (shared :func:`_capped_posting_lists`) — one hashed-shingle
    explode (int64 keys), frequency cap, inverted-index self-join
    bounded by Σ_shingle freq² (never |docs|²), one pair aggregate,
    then ONE size join (only |A| is needed for the directed
    denominator). The other changes vs jaccard: denominator |A|
    instead of the union, and no (a < b) ordering filter since
    containment is directional.
    """
    shingles, sizes = _capped_posting_lists(
        df, id_col, text_col, n, max_shingle_freq,
        max_projected_pairs=max_projected_pairs,
        op="containment_pairs", owned_frames=owned_frames)
    shared = _shared_shingle_pairs(shingles, id_col, directed=True)
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("sz").alias("sz_a"))
    out = (shared.join(sa, "id_a")
           .withColumn("containment", F.col("shared") / F.col("sz_a"))
           .where(F.col("containment") >= threshold)
           .select("id_a", "id_b", "containment"))
    return out


def edit_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", max_dist: int = 4,
                   n: int = 3, min_shared: int = 1,
                   max_shingle_freq: int | None = 100,
                   max_projected_pairs: int | None =
                   DEFAULT_MAX_PROJECTED_PAIRS,
                   owned_frames: list | None = None) -> DataFrame:
    """Edit-distance near-duplicate pairs: candidate pairs from the
    shared inverted-index substrate, verified with EXACT character
    Levenshtein distance <= ``max_dist``. This is the tightest dedup
    grain in the family — it catches single-typo / small-patch
    republications that n-gram Jaccard scores well below any usable
    threshold (one edited character kills up to ``n`` shingles), and
    that MinHash therefore also misses at its operating points.

    Candidate rule (shared verbatim with the SQL oracle): pairs
    sharing at least ``min_shared`` capped word ``n``-grams
    (:func:`_capped_posting_lists` — posting lists bounded by
    ``max_shingle_freq``, so pair generation is Σ_shingle freq², never
    |docs|²). Raise ``min_shared`` on dense corpora: true <=4-edit
    pairs share almost their whole shingle set, so even aggressive
    values keep full recall while shedding junk candidates.

    CAP BLIND SPOT — read before trusting recall on heavy duplication:
    a near-identical cluster LARGER than ``max_shingle_freq`` pushes
    every one of its shingles over the cap, deleting the cluster's
    whole posting family — its pairs become invisible despite tiny
    edit distances. Run :func:`exact_dedup` first (it collapses
    verbatim copies without any cap) and size ``max_shingle_freq``
    above the largest surviving near-dup family you need to catch;
    the cap exists to bound Σ freq² skew, not to define recall. Docs
    with fewer than ``n`` tokens have no shingles and are likewise
    unpairable even at distance 0.

    Verify tiers, cheapest first: (1) ``abs(len_a - len_b) <=
    max_dist`` — a LOWER BOUND on edit distance, a plain column filter
    that kills most candidates before any O(L²) work; (2) JVM
    ``levenshtein`` on the survivors only. Both tiers run inside the
    one pair-join stage, no extra shuffle: texts ride in via two hash
    joins on the id.

    At 100 TB the cost profile is: shingle explode (scan-linear), one
    inverted-index shuffle (candidate-bounded), then per-surviving-
    pair O(L_a * L_b) verify CPU — which is why ``min_shared`` and the
    length tier exist. Output: (id_a, id_b, dist) with id_a < id_b,
    dist <= max_dist.
    """
    shingles, _ = _capped_posting_lists(
        df, id_col, text_col, n, max_shingle_freq,
        max_projected_pairs=max_projected_pairs, op="edit_dup_pairs",
        owned_frames=owned_frames)
    cand = (_shared_shingle_pairs(shingles, id_col)
            .where(F.col("shared") >= int(min_shared))
            .select("id_a", "id_b"))
    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("__ta"),
                   F.length(text_col).alias("__la"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("__tb"),
                   F.length(text_col).alias("__lb"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
            .where(F.abs(F.col("__la") - F.col("__lb")) <= int(max_dist))
            .withColumn("dist", F.levenshtein("__ta", "__tb"))
            .where(F.col("dist") <= int(max_dist))
            .select("id_a", "id_b", "dist"))


def cross_corpus_dups(eval_df: DataFrame, train_df: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, num_hashes: int = 64,
                      bands: int = 16,
                      threshold: float = 0.9) -> DataFrame:
    """Doc-level cross-corpus contamination: near-duplicates of EVAL
    documents inside the TRAIN corpus — the document-grain sibling of
    :func:`~pydin_spark.operators.text.winnow_matches` (span grain)
    and :func:`~pydin_spark.operators.curation.decontaminate`
    (n-gram-overlap grain). Run before training: any eval doc with a
    hit here is memorized, not generalized.

    Mechanics: the two corpora union (ids MUST be unique across both
    frames — remap first if they collide), flow through the standard
    MinHash-LSH banding + exact-Jaccard verify
    (:func:`minhash_lsh_pairs` — no new substrate), and only
    cross-side pairs survive, re-oriented as (eval_id, train_id,
    jaccard). Train-internal and eval-internal near-dups are someone
    else's job (:func:`minhash_lsh_pairs` on that corpus alone).

    Scale shape: identical to the underlying LSH (banded buckets,
    candidate-bounded, constant-size signatures); the side filter is
    two joins against id-only projections of the inputs, driven by
    the PAIR table's size (tiny), not the corpora. At the published
    operating point (64 hashes / 16 bands, threshold 0.9) banding
    recall is full, so the result equals the exact cross-corpus
    Jaccard join the oracle runs.
    """
    a = eval_df.select(F.col(id_col), F.col(text_col))
    b = train_df.select(F.col(id_col), F.col(text_col))
    owned: list = []
    pairs = minhash_lsh_pairs(a.unionByName(b), id_col, text_col, n,
                              num_hashes, bands, threshold,
                              owned_frames=owned)
    evals = a.select(F.col(id_col).alias("__eid"))
    trains = b.select(F.col(id_col).alias("__tid"))
    p1 = (pairs.join(evals, pairs["id_a"] == evals["__eid"])
          .join(trains, pairs["id_b"] == trains["__tid"])
          .select(F.col("id_a").alias("eval_id"),
                  F.col("id_b").alias("train_id"), "jaccard"))
    p2 = (pairs.join(evals, pairs["id_b"] == evals["__eid"])
          .join(trains, pairs["id_a"] == trains["__tid"])
          .select(F.col("id_b").alias("eval_id"),
                  F.col("id_a").alias("train_id"), "jaccard"))
    # a sweep loops this per eval suite: materialize, then release the
    # LSH intermediates instead of pinning them for the session
    # (pack_sequences' bounded-cache discipline)
    out = p1.unionByName(p2).localCheckpoint(eager=True)
    for f in owned:
        f.unpersist()
    return out
