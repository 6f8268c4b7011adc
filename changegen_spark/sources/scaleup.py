"""Synthetic scale-up: replicate a snapshot directory N× with disjoint id
ranges to extend the measured scaling curve beyond the shipped sf0.1.

Replication preserves distributions and key relationships (orderkeys /
doc_ids / event_ids / vec_ids get disjoint offset ranges per copy;
documents gain a per-copy marker token so text content is not
byte-identical), so per-query work scales like real data growth for
scan/agg/window/text queries.  Join fan-outs whose selectivity depends on
cross-copy collisions (l_partkey keeps its original domain) are noted in
SCALE.md per query.

Used by tools/ladders.py (the scaleup ladder, one-off) and bench.py's
per-round sf1 section (scale-sensitive headline subset).
"""

from __future__ import annotations

import os
import shutil

# (table, id columns to offset per copy) — offsets keep keys disjoint
OFFSETS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SMALL = ["region", "nation", "customer", "supplier", "part"]
STRIDE = 10_000_000


def build_scaled_dir(spark, src: str, out: str, copies: int = 10) -> None:
    """Materialize the ``copies``× replication of ``src`` under ``out``.
    Idempotent: tables already present are kept (delete ``out`` to force a
    rebuild)."""
    from pyspark.sql import functions as F

    from changegen_spark.sources.tables import load_table

    os.makedirs(out, exist_ok=True)
    for t in SMALL:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(src, f"{t}.parquet"), dst)
    for t, idcols in OFFSETS.items():
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        base = load_table(spark, src, t)
        parts = []
        for c in range(copies):
            d = base
            for col in idcols:
                d = d.withColumn(col, F.col(col) + F.lit(c * STRIDE))
            # perturb content minimally so copies aren't byte-identical
            # documents: suffix a copy marker token (keeps stats shape)
            if t == "documents" and c > 0:
                d = d.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copymark{c}"))
                )
            # embeddings: ROLL the dimensions by c — exact copies made
            # every vector a true near-dup of its 9 clones (cos = 1.0), a
            # 90%-duplicate regime in which any near-dup query's OUTPUT
            # grows ~quadratically in the copy count and the ladder
            # measures result size, not plan scaling (r5: measured 10.7×
            # for q_embedding_dedup_lsh before this fix, 1.9× after).  A
            # circular shift keeps norms, the per-dim value distribution,
            # and label structure, while cross-copy cosines drop to the
            # unrelated-pair level — "10× more data at the same dup rate".
            if t == "embeddings" and c > 0:
                k = c % 64
                d = d.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", k + 1, 64 - k),
                        F.slice("embedding", 1, k),
                    ),
                )
            parts.append(d)
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        acc.write.mode("overwrite").parquet(dst)


# --- media scale fixture (r5 verdict #4) -------------------------------------
#
# The fixture media_assets.parquet exercises the banded image-dedup join on
# ~dozens of assets; this builder synthesizes O(10^4) PNG assets with
# near-dups planted at EXACT, controlled Hamming distances so the ladder
# can measure candidate growth the way text dedup already does.
#
# Controlled-distance construction: a dup at target distance t copies its
# source's pixels and, for rows r = 0..t-1, inverts dHash bit (r, 0) by
# overwriting grid block (r, 0).  Block (r, 0) participates in NO other
# comparison (bit (r, c) compares cells c and c+1 of row r, so column 0 is
# only ever a left operand), and original pixels are confined to
# [10, 245], so setting the block to 255 (when the bit was set) or 0
# (when clear) is a GUARANTEED inversion: hamming(src, dup) == t exactly.

MEDIA_W, MEDIA_H = 72, 48
MEDIA_PX_LO, MEDIA_PX_HI = 10, 245  # inclusive; keeps 0/255 flips decisive
MEDIA_SEED = 7


def _media_pixels(asset_id: int):
    """Deterministic per-asset base image (numpy PCG stream)."""
    import numpy as np

    rng = np.random.default_rng(MEDIA_SEED * 1_000_003 + asset_id)
    return rng.integers(
        MEDIA_PX_LO, MEDIA_PX_HI + 1, size=MEDIA_W * MEDIA_H, dtype=np.uint8
    )


def media_dup_plan(n_assets: int, dup_frac: float = 0.1):
    """(n_orig, {dup_id: (src_id, target_hamming)}) — pure arithmetic so
    tests can recompute the expected pair set without reading pixels."""
    n_dup = int(n_assets * dup_frac)
    n_orig = n_assets - n_dup
    plan = {}
    for aid in range(n_orig, n_assets):
        plan[aid] = ((aid * 2654435761) % n_orig, aid % 8)
    return n_orig, plan


def build_media_assets(
    spark,
    out: str,
    n_assets: int = 20_000,
    dup_frac: float = 0.1,
    parts: int = 32,
) -> str:
    """Materialize ``n_assets`` PNG assets (schema: asset_id, kind,
    payload — the subset dhash_images reads) with ``dup_frac`` planted
    near-dups at Hamming 0..7.  Distributed, map-only, idempotent."""
    import os

    from pyspark.sql import functions as F

    path = os.path.join(out, f"media_assets_{n_assets}.parquet")
    if os.path.exists(path):
        return path

    n_orig, plan = media_dup_plan(n_assets, dup_frac)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from changegen_spark.multimodal.assets import _grid_bounds, _grid_cells
        from changegen_spark.multimodal.png import encode_png

        rb, cb = _grid_bounds(MEDIA_W, MEDIA_H)
        for pdf in batches:
            ids, payloads = [], []
            for aid in pdf["id"]:
                aid = int(aid)
                if aid < n_orig:
                    px = _media_pixels(aid)
                    payload = encode_png(MEDIA_W, MEDIA_H, px.tobytes())
                else:
                    src, t = plan[aid]
                    px = _media_pixels(src).copy().reshape(MEDIA_H, MEDIA_W)
                    cells = _grid_cells(px.tobytes(), MEDIA_W, MEDIA_H)
                    for r in range(t):
                        bit_set = cells[r, 0] < cells[r, 1]
                        px[rb[r] : rb[r + 1], cb[0] : cb[1]] = (
                            255 if bit_set else 0
                        )
                    # t = 0 → identical pixels; vary the container bytes
                    # (filter type) so the dup is a re-encode, not a copy
                    payload = encode_png(
                        MEDIA_W,
                        MEDIA_H,
                        px.reshape(-1).tobytes(),
                        filter_type=1 if t == 0 else 0,
                    )
                ids.append(aid)
                payloads.append(payload)
            yield pd.DataFrame(
                {"asset_id": ids, "kind": "image", "payload": payloads}
            )

    (
        spark.range(n_assets, numPartitions=parts)
        .mapInPandas(gen, "asset_id long, kind string, payload binary")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


# --- entity-resolution scale fixture (r6) ------------------------------------
#
# The committed er_people.parquet is 480 records; this builder synthesizes
# O(10^5) records distributed (map-only, hash-derived — no RNG state to
# coordinate) so the ladder can measure how the blocked Levenshtein join
# grows.  Surnames are COMPOUNDS of two base surnames (900 combinations,
# pairwise Levenshtein far above the refine threshold — a hash-suffix
# scheme was tried first and failed exactly the way a naive fixture
# would: 2-letter suffixes are themselves within lev≤2, so every record
# sharing a base surname matched every other and the "ladder" measured
# the degenerate vocabulary, 3.3M pairs at 100k records).  Cities come
# from a 500-value pool so a second blocking field is available: at
# population scale same-name-different-person mass is quadratic in name
# frequency, and the standard fix — block on (phonetic, initial, city) —
# is what the ladder's scheme-B measurement demonstrates.  Planted
# duplicate classes mirror tools/make_er.py (A: interior vowel swap,
# B: first-letter substitution = designed blocking loss, C: first-name
# interior transposition); dups inherit their entity's city.

ER_FIRST = (
    "james mary robert patricia john jennifer michael linda david elizabeth "
    "william barbara richard susan joseph jessica thomas sarah charles karen "
    "christopher lisa daniel nancy matthew betty anthony sandra mark ashley"
).split()
ER_LAST = (
    "smith johnson williams brown jones garcia miller davis rodriguez martinez "
    "hernandez lopez gonzalez wilson anderson thomas taylor moore jackson martin "
    "lee perez thompson white harris sanchez clark ramirez lewis robinson"
).split()
ER_N_CITIES = 500
_ER_VOWELS = "aeiou"


def _er_h(seed: int, *parts) -> int:
    import hashlib

    key = "|".join(str(p) for p in (seed,) + parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:12], 16)


def _er_entity_name(eid: int, seed: int) -> str:
    first = ER_FIRST[_er_h(seed, eid, "f") % len(ER_FIRST)]
    l1 = ER_LAST[_er_h(seed, eid, "l") % len(ER_LAST)]
    l2 = ER_LAST[_er_h(seed, eid, "m") % len(ER_LAST)]
    return first + " " + l1 + l2


def _er_variant(name: str, cls: int, h: int) -> str:
    first, last = name.split(" ", 1)
    if cls == 0:  # interior vowel swap in the last name (block-preserving)
        idxs = [i for i, ch in enumerate(last) if ch in _ER_VOWELS and i >= 1]
        if not idxs:
            return first + " " + last + last[-1]
        i = idxs[h % len(idxs)]
        repl = _ER_VOWELS[(_ER_VOWELS.index(last[i]) + 1 + h % 4) % 5]
        return first + " " + last[:i] + repl + last[i + 1 :]
    if cls == 1:  # first-letter substitution (block-breaking by design)
        c = chr(97 + h % 26)
        if c == last[0]:
            c = chr(97 + (h + 1) % 26)
        return first + " " + c + last[1:]
    # cls == 2: interior transposition in the first name
    if len(first) < 4:
        return first + first[-1] + " " + last
    i = 1 + h % (len(first) - 2)
    if first[i] == first[i + 1]:
        i = 1 if i > 1 else i + 1
    return first[:i] + first[i + 1] + first[i] + first[i + 2 :] + " " + last


def build_er_records(
    spark,
    out: str,
    n_entities: int = 100_000,
    dup_frac: float = 0.15,
    seed: int = 11,
    parts: int = 32,
) -> str:
    """Materialize n_entities base records + planted dup records
    (rec_id, name, city, entity_id).  Idempotent per size."""
    import os

    path = os.path.join(out, f"er_records_{n_entities}.parquet")
    if os.path.exists(path):
        return path
    n_dup = int(n_entities * dup_frac)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for rid in pdf["id"]:
                rid = int(rid)
                if rid < n_entities:
                    eid = rid
                    name = _er_entity_name(eid, seed)
                else:
                    j = rid - n_entities
                    eid = _er_h(seed, j, "src") % n_entities
                    name = _er_variant(
                        _er_entity_name(eid, seed), j % 3, _er_h(seed, j, "op")
                    )
                recs.append(
                    (rid, name, f"city{_er_h(seed, eid, 'c') % ER_N_CITIES}", eid)
                )
            yield pd.DataFrame(
                recs, columns=["rec_id", "name", "city", "entity_id"]
            )

    (
        spark.range(n_entities + n_dup, numPartitions=parts)
        .mapInPandas(gen, "rec_id long, name string, city string, entity_id long")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def build_er_adversarial(
    spark,
    out: str,
    n_entities: int = 100_000,
    n_adv: int = 2_500,
    dup_frac: float = 0.15,
    seed: int = 11,
    parts: int = 32,
) -> str:
    """ER scale fixture with an ADVERSARIAL corruption regime (r11
    verdict #2): every wrong merge build_er_records can produce is an
    exact best/runner-up TIE (margin 1 removes them all), so the
    margin mechanism's strictly-closer-impostor path was unexercised.
    Here the first ``2*n_adv`` entity ids are planted TWIN pairs: entity
    2j is a true target, entity 2j+1 is a legitimate DIFFERENT person
    whose name is one interior-vowel edit away in the same city (the
    realistic smith/smyth-next-door case).  The adversarial arrivals
    (after the normal dup arrivals) corrupt the TRUE entity's name with
    the twin's vowel swap PLUS a doubled final letter — Levenshtein 1
    from the impostor, 2 from the truth, same phonetic block, same city
    — so the blind pick AND margin 1 both merge into the impostor
    (gap = 1), and the survivor taxonomy's
    ``wrong_stranger_strictly_closer`` goes non-zero by construction.
    Margin 2 abstains on them (the measured mitigation row in the
    ladder).

    Twin-aware naming is CONSISTENT: normal dup arrivals that hash onto
    a twin entity derive their variants from the twin's ACTUAL (swapped)
    name, so ground truth stays clean.

    Layout: base [0, n_entities), normal dups [n_entities,
    n_entities+n_dup), adversarial arrivals [n_entities+n_dup, +n_adv)
    with entity_id = 2*(k) for the k-th.  Idempotent per the FULL
    parameter set — seed and dup_frac are part of the cache key, so a
    call with different generation parameters never reuses a stale
    fixture (r12 advice).
    """
    import os

    assert 2 * n_adv <= n_entities
    path = os.path.join(
        out,
        f"er_adversarial_{n_entities}_{n_adv}_s{seed}_d{dup_frac}.parquet",
    )
    if os.path.exists(path):
        return path
    n_dup = int(n_entities * dup_frac)

    def ename(eid: int) -> str:
        nm = _er_entity_name(eid, seed)
        if eid < 2 * n_adv and eid % 2 == 1:
            # twin: one interior vowel swap of its even sibling's name
            return _er_variant(
                _er_entity_name(eid - 1, seed), 0, _er_h(seed, eid - 1, "adv")
            )
        return nm

    def ecity(eid: int) -> str:
        if eid < 2 * n_adv and eid % 2 == 1:
            eid = eid - 1  # twin shares the true target's city
        return f"city{_er_h(seed, eid, 'c') % ER_N_CITIES}"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for rid in pdf["id"]:
                rid = int(rid)
                if rid < n_entities:
                    eid = rid
                    name = ename(eid)
                elif rid < n_entities + n_dup:
                    j = rid - n_entities
                    eid = _er_h(seed, j, "src") % n_entities
                    name = _er_variant(
                        ename(eid), j % 3, _er_h(seed, j, "op")
                    )
                else:
                    k = rid - n_entities - n_dup
                    eid = 2 * k
                    twin = ename(eid + 1)
                    name = twin + twin[-1]  # lev 1 to twin, 2 to truth
                recs.append((rid, name, ecity(eid), eid))
            yield pd.DataFrame(
                recs, columns=["rec_id", "name", "city", "entity_id"]
            )

    (
        spark.range(n_entities + n_dup + n_adv, numPartitions=parts)
        .mapInPandas(gen, "rec_id long, name string, city string, entity_id long")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


# --- web-crawl URL scale fixture (r6) ----------------------------------------
#
# The committed web_urls.parquet is 811 rows; this builder synthesizes
# O(10^6) crawl rows with pure SQL expressions (no Python row path — the
# generator itself is a map-only codegen stage), two spellings per page:
# the canonical one and a variant whose class is hash-chosen per page.
# Every variant canonicalizes back to its base, so the ladder has an
# exact built-in correctness check (n_pages groups of exactly 2) riding
# along with the throughput measurement.

WEB_HOSTS_SQL = (
    "array('www.acme.com','blog.acme.com','docs.acme.com',"
    "'shop.example.co.uk','news.example.co.uk','data.orgsite.org.uk',"
    "'mirror.kanga.com.au','labs.nihon.co.jp','cdn.beta.net',"
    "'portal.gamma.io','forum.delta.org','wiki.epsilon.dev','zeta.com',"
    "'media.theta.tv','archive.iota.info')"
)


def build_web_urls(spark, out: str, n_urls: int, parts: int = 32) -> str:
    """Materialize ``n_urls`` crawl rows (url_id, url, doc_id, cls):
    page p gets a canonical spelling (row p) and one variant spelling
    (row p + n_pages) in class case/port/frag/track/shuf chosen by
    hash(p).  Distributed, expression-only, idempotent."""
    import os

    # exactly-2-spellings-per-page is the invariant every downstream
    # correctness check (the web ladder's bad_groups == 0) rides on; an odd
    # n_urls would wrap the last row via pmod onto page 0 as a silent
    # THIRD variant, so refuse it outright.
    if n_urls % 2 != 0:
        raise ValueError(f"build_web_urls needs even n_urls, got {n_urls}")
    path = os.path.join(out, f"web_urls_{n_urls}.parquet")
    if os.path.exists(path):
        return path
    n_pages = n_urls // 2
    base = f"""
      concat('https://', element_at({WEB_HOSTS_SQL}, CAST(pmod(hash(page), 15) + 1 AS INT)),
             '/articles/', page, '?id=', pmod(page, 97), '&ref=', pmod(page, 13))
    """
    variant = f"""
      CASE pmod(hash(page, 7), 5)
        WHEN 0 THEN concat('HTTPS://', upper(element_at({WEB_HOSTS_SQL}, CAST(pmod(hash(page), 15) + 1 AS INT))),
                           '/articles/', page, '?id=', pmod(page, 97), '&ref=', pmod(page, 13))
        WHEN 1 THEN concat('https://', element_at({WEB_HOSTS_SQL}, CAST(pmod(hash(page), 15) + 1 AS INT)),
                           ':443/articles/', page, '?id=', pmod(page, 97), '&ref=', pmod(page, 13))
        WHEN 2 THEN concat({base}, '#sec', page)
        WHEN 3 THEN concat('https://', element_at({WEB_HOSTS_SQL}, CAST(pmod(hash(page), 15) + 1 AS INT)),
                           '/articles/', page, '?utm_source=feed&id=', pmod(page, 97),
                           '&utm_campaign=q3&ref=', pmod(page, 13))
        ELSE concat('https://', element_at({WEB_HOSTS_SQL}, CAST(pmod(hash(page), 15) + 1 AS INT)),
                    '/articles/', page, '?ref=', pmod(page, 13), '&id=', pmod(page, 97))
      END
    """
    (
        spark.range(n_urls, numPartitions=parts)
        .selectExpr(
            "id AS url_id",
            f"pmod(id, {n_pages}) AS page",
            f"(id >= {n_pages}) AS is_variant",
        )
        .selectExpr(
            "url_id",
            f"CASE WHEN is_variant THEN {variant} ELSE {base} END AS url",
            "page AS doc_id",
            "CASE WHEN is_variant THEN "
            "element_at(array('case','port','frag','track','shuf'), "
            "CAST(pmod(hash(page, 7), 5) + 1 AS INT)) ELSE 'base' END AS cls",
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


# --- document-corpus scale fixture (r8: relatedness + fuzzy-decon ladders) ---
#
# build_scaled_dir replication is the WRONG axis for term-statistics
# queries: copying every document 10× multiplies every term's df by the
# copy count, so Σ df² audits measure a 90%-duplicate regime rather than
# data growth.  This builder makes 10× docs mean NEW documents with new
# vocabulary at the SAME boilerplate share, phrase-pool frequency profile,
# and planted-dup rate — the "10× more data at the same dup rate" contract
# the media/ER fixtures already follow.

CORPUS_DUP_OFFSET = 100_000_000
CORPUS_BOILER = (
    "terms of service apply to all content on this site"  # 9 words
)


def build_corpus_docs(
    spark, out: str, n_docs: int, dup_every: int = 10, parts: int = 32
) -> str:
    """Materialize a documents.parquet of ``n_docs`` base docs (+ twins).

    Per-doc composition (word counts chosen so trigram/5-gram families
    land in distinct df regimes):

    * a 9-word boilerplate head shared by ALL docs — its trigrams have
      df = n (over every index cap) and its 5-grams' minhashes are the
      hot-bucket hazard ``FUZZY_BUCKET_CAP`` exists for;
    * a 4-word phrase from a pool of n/16 → trigram df ≈ 16: kept by the
      absolute REL_DF_CAP at every scale (the candidate signal);
    * a 4-word phrase from a pool of n/256 → trigram df ≈ 256: pruned by
      REL_DF_CAP=64, but the retired fractional n/20 cap KEEPS these
      once n > 5120 — the ladder's measured negative;
    * a 12-word unique body (df = 1, under the df ≥ 2 floor).

    Every ``dup_every``-th doc gets a near-duplicate twin (doc_id +
    CORPUS_DUP_OFFSET) sharing its phrases and body plus a 2-word tail.
    Distributed, expression-only, idempotent per (n_docs)."""
    import os

    path = os.path.join(out, f"corpus_{n_docs}")
    if os.path.exists(os.path.join(path, "documents.parquet")):
        return path
    pool_mid = max(1, n_docs // 16)
    pool_hi = max(1, n_docs // 256)
    text = f"""
      concat_ws(' ',
        '{CORPUS_BOILER}',
        concat('mida', pmod(id, {pool_mid})), concat('midb', pmod(id, {pool_mid})),
        concat('midc', pmod(id, {pool_mid})), concat('midd', pmod(id, {pool_mid})),
        concat('hia', pmod(id, {pool_hi})), concat('hib', pmod(id, {pool_hi})),
        concat('hic', pmod(id, {pool_hi})), concat('hid', pmod(id, {pool_hi})),
        concat_ws(' ', transform(sequence(1, 12), j -> concat('w', id, 'x', j))))
    """
    base = spark.range(n_docs, numPartitions=parts).selectExpr(
        "id AS doc_id", f"{text} AS text"
    )
    twins = (
        spark.range(0, n_docs, dup_every, numPartitions=parts)
        .selectExpr(
            f"id + {CORPUS_DUP_OFFSET} AS doc_id",
            f"concat({text}, ' trailing extra') AS text",
        )
    )
    base.unionByName(twins).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    return path
