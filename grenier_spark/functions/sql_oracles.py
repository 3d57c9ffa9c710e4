"""DuckDB SQL generators reproducing the sketch hash kernels BIT-EXACTLY.

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL oracle in DuckDB. For the sketch layer the oracles recompute the
full hash pipeline — Thomas Wang mix (reference hll/hll.ml:159-172),
SplitMix64 row salts, trailing-zero rho (hll.ml:40-43) and the
integer-variant jump loop (jmphash/jmphash.ml:1-11) — in 64-bit wrapping
arithmetic emulated with UHUGEINT ``% 2^64``, so a register/bucket/cell
mismatch anywhere in the distributed pipeline fails the gate.

All generators are tested against the numpy kernels in
tests/test_sql_oracles.py.
"""

from __future__ import annotations

M = "18446744073709551616::UHUGEINT"       # 2^64
M1 = "18446744073709551615::UHUGEINT"      # 2^64 - 1


def chain_selects(base_sql: str, stages: "list[tuple[str, str]]") -> str:
    """Fold (name, expr) stages into nested ``SELECT *, expr AS name``."""
    sql = base_sql
    for name, expr in stages:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


def wang64_stages(col: str, out: str, tmp: str = "_w") -> "list[tuple[str, str]]":
    """Thomas Wang 64-bit mix of a UHUGEINT column, one stage per round."""
    t1, t2, t3, t4, t5, t6 = (f"{tmp}{i}" for i in range(1, 7))
    return [
        (t1, f"(({M1} - {col} + ({col} * 2097152::UHUGEINT) % {M}) % {M})"),
        (t2, f"xor({t1}, {t1} // 16777216)"),
        (t3, f"(({t2} + ({t2} * 8::UHUGEINT) % {M} + ({t2} * 256::UHUGEINT) % {M}) % {M})"),
        (t4, f"xor({t3}, {t3} // 16384)"),
        (t5, f"(({t4} + ({t4} * 4::UHUGEINT) % {M} + ({t4} * 16::UHUGEINT) % {M}) % {M})"),
        (t6, f"xor({t5}, {t5} // 268435456)"),
        (out, f"(({t6} + ({t6} * 2147483648::UHUGEINT) % {M}) % {M})"),
    ]


def splitmix64_stages(col: str, out: str, tmp: str = "_s") -> "list[tuple[str, str]]":
    s1, s2, s3 = f"{tmp}1", f"{tmp}2", f"{tmp}3"
    return [
        (s1, f"(({col} + 11400714819323198485::UHUGEINT) % {M})"),
        (s2, f"((xor({s1}, {s1} // 1073741824) * 13787848793156543929::UHUGEINT) % {M})"),
        (s3, f"((xor({s2}, {s2} // 134217728) * 10723151780598845931::UHUGEINT) % {M})"),
        (out, f"xor({s3}, {s3} // 2147483648)"),
    ]


def rho_expr(w: str) -> str:
    """1 + ctz(w), 64 when w = 0 (reference hll.ml:40-43, trailing zeros)."""
    lsb = f"(({w}) & (({M} - ({w})) % {M}))"
    return (f"(CASE WHEN ({w}) = 0::UHUGEINT THEN 64 "
            f"ELSE 1 + bit_count((({lsb} - 1::UHUGEINT))::UBIGINT) END)")


def hll_registers_sql(keys_sql: str, key_col: str, p: int) -> str:
    """Register array (j, reg) of an HLL(p) over UHUGEINT keys.

    Emits ALL 2**p register indices, zero-valued ones included — matching a
    dump of the dense register array.
    """
    m = 1 << p
    hashed = chain_selects(keys_sql, wang64_stages(key_col, "h"))
    return f"""
SELECT gs.j::BIGINT AS j, COALESCE(r.reg, 0)::BIGINT AS reg
FROM generate_series(0, {m - 1}) AS gs(j)
LEFT JOIN (
  SELECT (h % {m}::UHUGEINT)::BIGINT AS j,
         MAX({rho_expr(f'(h // {m}::UHUGEINT)')}) AS reg
  FROM ({hashed})
  GROUP BY 1
) r ON gs.j = r.j
ORDER BY j"""


def jump_buckets_sql(keys_sql: str, key_col: str, out_key: str, n: int) -> str:
    """(out_key, bucket) via the reference integer jump loop, recursive CTE."""
    lcg = "2862933555777941757::UHUGEINT"
    step_state = f"((state * {lcg} + 1::UHUGEINT) % {M})"
    cand = (f"((j + 1::UHUGEINT) * 2147483648::UHUGEINT) // "
            f"(({step_state} // 8589934592::UHUGEINT) + 1::UHUGEINT)")
    return f"""
WITH RECURSIVE jmp AS (
  SELECT {out_key}, {key_col}::UHUGEINT AS state, 0::UHUGEINT AS j, false AS done
  FROM ({keys_sql})
  UNION ALL
  SELECT {out_key}, {step_state} AS state,
         CASE WHEN {cand} >= {n}::UHUGEINT THEN j ELSE {cand} END AS j,
         ({cand} >= {n}::UHUGEINT) AS done
  FROM jmp WHERE NOT done
)
SELECT {out_key}, j::BIGINT AS bucket FROM jmp WHERE done"""


def hrw_buckets_sql(keys_sql: str, key_col: str, out_key: str, n=None,
                    nodes=None) -> str:
    """(out_key, bucket) via rendezvous hashing (core/rendezvous.py):
    owner = argmax over live nodes i of wang64(key XOR splitmix64(i+1)),
    ties to the smallest i. One wang64 chain over the keys x nodes cross
    product, argmax via row_number. Pass ``n`` for nodes 0..n-1 or
    ``nodes`` for an arbitrary live set (the removal story)."""
    if nodes is None:
        nodes = list(range(n))
    node_list = ", ".join(str(int(i)) for i in sorted(set(nodes)))
    salts = chain_selects(
        f"SELECT (i + 1)::UHUGEINT AS si, i AS node "
        f"FROM unnest([{node_list}]) AS t(i)",
        splitmix64_stages("si", "salt"))
    hashed = chain_selects(
        f"SELECT k.{out_key}, s.node, xor(k.{key_col}::UHUGEINT, s.salt) AS kx "
        f"FROM ({keys_sql}) k CROSS JOIN ({salts}) s",
        wang64_stages("kx", "h"))
    return f"""
SELECT {out_key}, node::BIGINT AS bucket FROM (
  SELECT {out_key}, node,
         row_number() OVER (PARTITION BY {out_key}
                            ORDER BY h DESC, node ASC) AS rn
  FROM ({hashed})
) WHERE rn = 1"""


def cms_positions_sql(keys_sql: str, key_col: str, depth: int, width: int,
                      seed: int) -> str:
    """(key, row, col) cell coordinates per key per hash row, matching
    core/countmin.py: col = wang64(key XOR splitmix64(seed + row + 1)) % width.
    """
    salts = chain_selects(
        f"SELECT (i + {seed + 1})::UHUGEINT AS si, i AS row "
        f"FROM generate_series(0, {depth - 1}) AS t(i)",
        splitmix64_stages("si", "salt"))
    hashed = chain_selects(
        f"SELECT k.{key_col}, s.row, xor(k.{key_col}::UHUGEINT, s.salt) AS kx "
        f"FROM ({keys_sql}) k CROSS JOIN ({salts}) s",
        wang64_stages("kx", "h"))
    return (f"SELECT {key_col}, row::BIGINT AS row, "
            f"(h % {width}::UHUGEINT)::BIGINT AS col FROM ({hashed})")


def cms_cells_sql(keys_sql: str, key_col: str, depth: int, width: int,
                  seed: int) -> str:
    """Non-zero count-min cells (row, col, cnt) for a key stream."""
    pos = cms_positions_sql(keys_sql, key_col, depth, width, seed)
    return f"""
SELECT row, col, COUNT(*)::BIGINT AS cnt
FROM ({pos})
GROUP BY 1, 2
ORDER BY row, col"""


def _bloom_positions_sql(src: str, key_col: str, m: int, k: int,
                         seed: int) -> str:
    """(key, pos) probe positions per key per hash index, matching
    core/bloom.py: ``h1 = wang64(key ^ splitmix64(seed+1))``,
    ``h2 = wang64(key ^ splitmix64(seed+2)) | 1``, probe bits
    ``(h1 + i*h2) mod 2^64 mod m`` — the ONE place the Bloom probe
    chain lives in SQL (bits dump and membership both build on it)."""
    s1 = chain_selects(f"SELECT ({seed + 1})::UHUGEINT AS a",
                       splitmix64_stages("a", "s1", "_x"))
    s2 = chain_selects(f"SELECT ({seed + 2})::UHUGEINT AS b",
                       splitmix64_stages("b", "s2", "_y"))
    hashed = chain_selects(
        f"SELECT t.{key_col}, xor(t.{key_col}::UHUGEINT, q1.s1) AS k1, "
        f"xor(t.{key_col}::UHUGEINT, q2.s2) AS k2 "
        f"FROM ({src}) t, ({s1}) q1, ({s2}) q2",
        wang64_stages("k1", "h1", "_a"))
    hashed = chain_selects(hashed, wang64_stages("k2", "h2r", "_b"))
    return f"""
SELECT {key_col},
       ((((h1 + i.i::UHUGEINT * (h2r | 1::UHUGEINT)) % {M}) % {m}::UHUGEINT))::BIGINT AS pos
FROM ({hashed}) CROSS JOIN generate_series(0, {k - 1}) AS i(i)"""


def bloom_bits_sql(members_sql: str, key_col: str, m: int, k: int,
                   seed: int) -> str:
    """Set-bit indices of a Bloom(m, k, seed) over a key stream — the
    direct-build twin for fold gates (core/bloom.py Bloom.fold)."""
    pos = _bloom_positions_sql(members_sql, key_col, m, k, seed)
    return f"""
SELECT DISTINCT pos FROM ({pos})
ORDER BY pos"""


def bloom_membership_sql(members_sql: str, cands_sql: str, key_col: str,
                         m: int, k: int, seed: int) -> str:
    """Bloom membership test per candidate key (probe chain:
    :func:`_bloom_positions_sql`). Returns (key, present boolean)."""
    bits = (f"SELECT DISTINCT pos FROM "
            f"({_bloom_positions_sql(members_sql, key_col, m, k, seed)})")
    probes = _bloom_positions_sql(cands_sql, key_col, m, k, seed)
    return f"""
SELECT {key_col}, (COUNT(DISTINCT b.pos) = {k}) AS present
FROM ({probes}) p LEFT JOIN ({bits}) b ON p.pos = b.pos
GROUP BY {key_col}"""


def hll_card_sql(keys_sql: str, key_col: str, p: int,
                 group_cols: "list[str] | None" = None,
                 alias: str = "est") -> str:
    """Full HLL++ cardinality estimate (``core.hll.card_hllpp``) in pure
    DuckDB SQL, per optional group — the COMPLETE estimator pipeline of
    reference hll/hll.ml:142-153 including linear counting (hll.ml:93-95),
    the threshold switch (hll_consts.ml:2-3) and 6-nearest-neighbor bias
    correction (hll.ml:118-131) with the Heule et al. tables embedded as a
    VALUES list.

    Bit-exactness engineering: the raw-estimate denominator
    ``sum 2^-min(64-p, reg)`` is summed EXACTLY as scaled HUGEINT integers
    (every term is ``2^(64-p-clamped)``; the whole sum is <= 2^64), then
    converted to double once — division by a power of two commutes with
    IEEE rounding, so this equals Python's ``math.fsum`` result bit-for-bit.
    Validated 0-ULP against the numpy kernel across both estimator branches
    in tests/test_sql_oracles.py.

    ``keys_sql`` must yield ``group_cols + [key_col]`` with the key as
    UHUGEINT *pre-hash* input (wang64 is applied here, matching
    ``add_batch(sk, wang64(keys))``).
    """
    from grenier_spark.core.hll import BIAS, RAW_ESTIMATE, THRESHOLD, get_alpha

    m = 1 << p
    q = 64 - p
    am2 = repr(get_alpha(p) * float(m) * float(m))
    thr = repr(float(THRESHOLD[p - 4]))
    consts = ", ".join(
        f"({i}, {float(r)!r}, {float(b)!r})"
        for i, (r, b) in enumerate(zip(RAW_ESTIMATE[p - 4], BIAS[p - 4])))
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    gby = ("GROUP BY " + ", ".join(g)) if g else ""
    part = ("PARTITION BY " + ", ".join(g)) if g else ""
    hashed = chain_selects(keys_sql, wang64_stages(key_col, "h"))
    lc = f"{m}.0 * ln({m}.0 / v::DOUBLE)"
    return f"""
WITH regs AS (
  SELECT {gsel}(h % {m}::UHUGEINT)::BIGINT AS j,
         MAX({rho_expr(f'(h // {m}::UHUGEINT)')}) AS reg
  FROM ({hashed}) GROUP BY {", ".join(g + ['j'])}
), agg AS (
  SELECT {gsel}COUNT(*)::BIGINT AS present,
         SUM((1::UBIGINT << ({q} - LEAST({q}, reg)))::HUGEINT) AS s_present
  FROM regs {gby}
), est AS (
  SELECT {gsel}({m} - present) AS v,
         {am2} / ((s_present + ({m} - present)::HUGEINT *
                   {1 << q}::HUGEINT)::DOUBLE / {float(1 << q)!r}) AS e
  FROM agg
), nn AS (
  SELECT {gsel}e, v, bias,
         row_number() OVER ({part}
             ORDER BY (c.raw - e) * (c.raw - e) ASC, c.idx ASC) AS rn
  FROM est CROSS JOIN (VALUES {consts}) AS c(idx, raw, bias)
), ep AS (
  SELECT {gsel}e, v,
         CASE WHEN e <= {5.0 * m!r}::DOUBLE THEN e - AVG(bias) ELSE e END AS ep
  FROM nn WHERE rn <= 6 GROUP BY {", ".join(g + ['e', 'v'])}
)
SELECT {gsel}CASE WHEN v = 0 THEN ep
            WHEN {lc} <= {thr} THEN {lc}
            ELSE ep END AS {alias}
FROM ep"""


def hll_card_hll_sql(keys_sql: str, key_col: str, p: int,
                     group_cols: "list[str] | None" = None,
                     alias: str = "est") -> str:
    """Original-paper 32-bit HLL estimator (``core.hll.card_hll``,
    reference hll/hll.ml:97-112) in pure DuckDB SQL, per optional group:
    raw estimate with registers clamped at 32-p, then the three
    Flajolet et al. range corrections — linear counting when
    ``e <= 2.5m`` (and any empty register), the raw estimate up to
    ``2^32/30``, and the large-range ``-2^32 ln(1 - e/2^32)`` collision
    correction above it.

    Same 0-ULP engineering as :func:`hll_card_sql`: the denominator
    ``sum 2^-min(32-p, reg)`` is summed exactly as scaled HUGEINT
    integers (each term ``2^(32-p-clamped)``, total <= 2^32) and converted
    to double once; division by a power of two commutes with IEEE
    rounding, so the estimate equals the numpy ``math.fsum`` path
    bit-for-bit. Validated in tests/test_sql_oracles.py.
    """
    from grenier_spark.core.hll import get_alpha

    m = 1 << p
    q32 = 32 - p
    am2 = repr(get_alpha(p) * float(m) * float(m))
    mid = repr((2.0 ** 32.0) / 30.0)
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    gby = ("GROUP BY " + ", ".join(g)) if g else ""
    hashed = chain_selects(keys_sql, wang64_stages(key_col, "h"))
    lc = f"{m}.0 * ln({m}.0 / v::DOUBLE)"
    return f"""
WITH regs AS (
  SELECT {gsel}(h % {m}::UHUGEINT)::BIGINT AS j,
         MAX({rho_expr(f'(h // {m}::UHUGEINT)')}) AS reg
  FROM ({hashed}) GROUP BY {", ".join(g + ['j'])}
), agg AS (
  SELECT {gsel}COUNT(*)::BIGINT AS present,
         SUM((1::UBIGINT << ({q32} - LEAST({q32}, reg)))::HUGEINT)
           AS s_present
  FROM regs {gby}
), est AS (
  SELECT {gsel}({m} - present) AS v,
         {am2} / ((s_present + ({m} - present)::HUGEINT *
                   {1 << q32}::HUGEINT)::DOUBLE / {float(1 << q32)!r}) AS e
  FROM agg
)
SELECT {gsel}CASE
         WHEN e <= {2.5 * m!r}::DOUBLE THEN
           (CASE WHEN v = 0 THEN e ELSE {lc} END)
         WHEN e <= {mid}::DOUBLE THEN e
         ELSE -4294967296.0 * ln(1.0 - e / 4294967296.0)
       END AS {alias}
FROM est"""


def simhash_fps_sql(docs_sql: str, id_col: str = "id",
                    text_col: str = "text") -> str:
    """(id, fp UBIGINT) — per-doc 64-bit simhash fingerprint, matching
    ``operators.dedup.simhash64`` value-for-value: md5-low64 word ids
    (:func:`md5_low64_expr` == Spark ``md5_low64_col``), wang64 mix,
    count-weighted bit votes (Charikar 2002). Docs whose word list is
    empty after filtering (empty/NULL text, separators only) have no
    fingerprint: fp is NULL on both engines, so no pair query matches
    them. Ids must be UNIQUE (they are the doc identity): on a
    duplicate-id input this SQL merges both rows' word counts into one
    fingerprint while Spark emits one row per input row. Fuzzed directly
    in test_differential_fuzz.py."""
    powers = ", ".join(f"({b}, {1 << b}::UHUGEINT)" for b in range(64))
    hashed = chain_selects(
        f"SELECT id, cnt, {md5_low64_expr('w')} AS k FROM ("
        f"SELECT id, w, COUNT(*)::BIGINT AS cnt FROM ("
        f"SELECT {id_col} AS id, unnest(list_filter("
        f"string_split({text_col}, ' '), x -> x <> '')) AS w "
        f"FROM ({docs_sql})) GROUP BY 1, 2)",
        wang64_stages("k", "h"))
    return f"""
WITH pw(b, p) AS (VALUES {powers}),
votes AS (
  SELECT id, b, p,
         SUM(cnt * (2 * ((h // p) % 2::UHUGEINT)::BIGINT - 1)) AS vote
  FROM ({hashed}) CROSS JOIN pw GROUP BY 1, 2, 3
), fp0 AS (
  SELECT id, SUM(CASE WHEN vote > 0 THEN p::HUGEINT ELSE 0::HUGEINT END) AS fp
  FROM votes GROUP BY 1
)
SELECT d.id, f.fp::UBIGINT AS fp
FROM (SELECT DISTINCT {id_col} AS id FROM ({docs_sql})) d
LEFT JOIN fp0 f ON d.id = f.id"""


def simhash_pairs_sql(docs_sql: str, id_col: str = "id",
                      text_col: str = "text", max_hamming: int = 3) -> str:
    """Near-dup pairs (id_a, id_b, hamming) via 64-bit simhash, matching
    ``operators.dedup.simhash64`` + ``simhash_candidates`` exactly.

    Fingerprints come from :func:`simhash_fps_sql`; pairs come from
    brute-force ``bit_count(xor) <= max_hamming``, which for
    ``max_hamming <= 3`` is EXACTLY the banded-LSH result (4 disjoint
    16-bit bands: <= 3 differing bits leave >= 1 band identical, so banding
    has guaranteed 100% recall).
    """
    return f"""
WITH fps AS ({simhash_fps_sql(docs_sql, id_col, text_col)})
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
FROM fps a JOIN fps b ON a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}"""


def _minhash_chain_sql(docs_sql: str, id_col: str, text_col: str,
                       w: int, n_hashes: int, seed: int) -> "tuple[str, str]":
    """Shared MinHash chain: returns ``(shingles_sql, sigrows_sql)`` —
    the (id, shingle) window-fold subquery and the per-(id, perm) salted
    wang64 rows feeding the ``MIN(h)`` signature aggregate. Twin of
    ``dedup.minhash_signatures(word_hash='md5')``; used by both the
    self-join near-dup oracle and the cross-table fuzzy-contamination
    oracle so the two can never drift. Ids must be UNIQUE (doc identity):
    the per-id MIN would merge duplicate-id rows' shingle sets that Spark
    signs separately."""
    hw = md5_low64_expr("t")
    wh_sql = (f"SELECT {id_col} AS id, list_transform("
              f"string_split({text_col}, ' '), t -> {hw}) AS wh "
              f"FROM ({docs_sql})")
    return _minhash_chain_from_wh_sql(wh_sql, w, n_hashes, seed)


def _minhash_chain_from_wh_sql(wh_sql: str, w: int, n_hashes: int,
                               seed: int) -> "tuple[str, str]":
    """MinHash chain over pre-hashed element lists: ``wh_sql`` yields
    ``(id, wh)`` rows where ``wh`` is a list of non-negative 64-bit element
    hashes (md5-low64 words for the text chain, the token ids themselves
    for the pre-tokenized chain). Returns the same (shingles, sigrows)
    pair as :func:`_minhash_chain_sql`."""
    from grenier_spark.core.bits import splitmix64_scalar

    salts = ", ".join(
        f"({i}, {splitmix64_scalar(seed + i + 1)}::UHUGEINT)"
        for i in range(n_hashes))
    # window rows: one row per shingle start, columns h1..hw
    hcols = ", ".join(f"wh[i + {k}]::UHUGEINT AS h{k + 1}" for k in range(w))
    winrows = (f"SELECT id, {hcols} FROM ("
               f"SELECT id, wh, unnest(range(1, len(wh) - {w - 2})) AS i "
               f"FROM ({wh_sql}))")
    # fold: acc = h1; acc = wang64(acc ^ h_k) for k = 2..w
    sql = winrows
    acc = "h1"
    for k in range(2, w + 1):
        sql = chain_selects(f"SELECT *, xor({acc}, h{k}) AS x{k} FROM ({sql})",
                            wang64_stages(f"x{k}", f"a{k}", f"_f{k}_"))
        acc = f"a{k}"
    shingles = f"SELECT id, {acc} AS shingle FROM ({sql})"
    sigrows = chain_selects(
        f"SELECT id, perm, xor(shingle, salt) AS k "
        f"FROM ({shingles}) CROSS JOIN (VALUES {salts}) s(perm, salt)",
        wang64_stages("k", "h"))
    return shingles, sigrows


def minhash_neardup_sql(docs_sql: str, id_col: str = "id",
                        text_col: str = "text", w: int = 3,
                        n_hashes: int = 64, seed: int = 42, bands: int = 16,
                        min_est: float = 0.5, tau: float = 0.7) -> str:
    """The COMPLETE MinHash+LSH near-dup pipeline in DuckDB SQL, matching
    ``dedup.minhash_signatures(word_hash='md5')`` +
    ``lsh_candidate_pairs(hash_buckets=False)`` +
    ``exact_jaccard_for_pairs(word_hash='md5')`` value-for-value:

    md5-low64 word hashes -> per-window wang64 fold shingles -> per-salt
    wang64 min (the signature) -> banded candidates joined on RAW
    sub-signature arrays -> matching-position Jaccard estimate filter ->
    exact distinct-shingle Jaccard >= tau. All hashes are the library's own
    kernels (core/bits.py), so the whole chain is deterministic and
    engine-independent.
    """
    shingles, sigrows = _minhash_chain_sql(docs_sql, id_col, text_col,
                                           w, n_hashes, seed)
    return _neardup_from_chain_sql(shingles, sigrows, n_hashes, bands,
                                   min_est, tau)


def token_minhash_neardup_sql(tokens_sql: str, id_col: str = "doc_id",
                              tokens_col: str = "tokens", w: int = 3,
                              n_hashes: int = 64, seed: int = 42,
                              bands: int = 16, min_est: float = 0.5,
                              tau: float = 0.7) -> str:
    """The pre-tokenized-payload twin of :func:`minhash_neardup_sql`,
    matching ``dedup.token_minhash_neardup`` value-for-value: the token
    ids (non-negative 64-bit values, e.g. md5-low64 word ids or BPE ids)
    feed the shared window-fold directly — no text stage."""
    wh_sql = (f"SELECT {id_col} AS id, {tokens_col} AS wh "
              f"FROM ({tokens_sql})")
    shingles, sigrows = _minhash_chain_from_wh_sql(wh_sql, w, n_hashes,
                                                   seed)
    return _neardup_from_chain_sql(shingles, sigrows, n_hashes, bands,
                                   min_est, tau)


def _neardup_from_chain_sql(shingles: str, sigrows: str, n_hashes: int,
                            bands: int, min_est: float, tau: float) -> str:
    if n_hashes % bands:
        # Spark's lsh_candidate_pairs slices only bands*width positions;
        # perm // width here would invent an extra band from the leftover
        # positions and diverge from the Spark candidate set
        raise ValueError("minhash_neardup_sql requires bands | n_hashes")
    width = n_hashes // bands
    return f"""
WITH sigs AS (
  SELECT id, perm, MIN(h) AS sigv FROM ({sigrows}) GROUP BY 1, 2
), bandkeys AS (
  SELECT id, perm // {width} AS band, list(sigv ORDER BY perm) AS bvals
  FROM sigs GROUP BY 1, 2
), cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.bvals = b.bvals AND a.id < b.id
), est AS (
  SELECT c.id_a, c.id_b,
         SUM(CASE WHEN sa.sigv = sb.sigv THEN 1 ELSE 0 END)
           / {n_hashes}.0 AS est_j
  FROM cands c
  JOIN sigs sa ON sa.id = c.id_a
  JOIN sigs sb ON sb.id = c.id_b AND sa.perm = sb.perm
  GROUP BY 1, 2
), goodc AS (
  SELECT id_a, id_b FROM est WHERE est_j >= {min_est!r}::DOUBLE
), shc AS (
  SELECT id, COUNT(DISTINCT shingle) AS nsh FROM ({shingles}) GROUP BY 1
), inter AS (
  SELECT g.id_a, g.id_b, COUNT(DISTINCT sa.shingle) AS i
  FROM goodc g
  JOIN ({shingles}) sa ON sa.id = g.id_a
  JOIN ({shingles}) sb ON sb.id = g.id_b AND sa.shingle = sb.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / (ca.nsh + cb.nsh - i)::DOUBLE, 6) AS jaccard
FROM inter JOIN shc ca ON id_a = ca.id JOIN shc cb ON id_b = cb.id
WHERE i / (ca.nsh + cb.nsh - i)::DOUBLE >= {tau!r}::DOUBLE"""


def fuzzy_contamination_sql(train_sql: str, eval_sql: str,
                            id_col: str = "doc_id",
                            eval_id_col: str = "eval_id",
                            text_col: str = "text", w: int = 3,
                            n_hashes: int = 64, seed: int = 42,
                            bands: int = 16, min_est: float = 0.5,
                            tau: float = 0.7) -> str:
    """Cross-table MinHash+LSH decontamination in DuckDB SQL, matching
    ``decontam.fuzzy_contamination(word_hash='md5')`` value-for-value:
    both tables signed with the SAME salt chain (:func:`_minhash_chain_sql`
    — shared with the near-dup oracle), banded candidates joined train x
    eval on raw sub-signature arrays, matching-position estimate filter,
    exact distinct-shingle Jaccard >= tau."""
    if n_hashes % bands:
        raise ValueError("fuzzy_contamination_sql requires bands | n_hashes")
    width = n_hashes // bands
    t_sh, t_sig = _minhash_chain_sql(train_sql, id_col, text_col,
                                     w, n_hashes, seed)
    e_sh, e_sig = _minhash_chain_sql(eval_sql, eval_id_col, text_col,
                                     w, n_hashes, seed)
    return f"""
WITH tsig AS (
  SELECT id, perm, MIN(h) AS sigv FROM ({t_sig}) GROUP BY 1, 2
), esig AS (
  SELECT id, perm, MIN(h) AS sigv FROM ({e_sig}) GROUP BY 1, 2
), tband AS (
  SELECT id, perm // {width} AS band, list(sigv ORDER BY perm) AS bvals
  FROM tsig GROUP BY 1, 2
), eband AS (
  SELECT id, perm // {width} AS band, list(sigv ORDER BY perm) AS bvals
  FROM esig GROUP BY 1, 2
), cands AS (
  SELECT DISTINCT t.id AS doc_id, e.id AS eval_id
  FROM tband t JOIN eband e ON t.band = e.band AND t.bvals = e.bvals
), est AS (
  SELECT c.doc_id, c.eval_id,
         SUM(CASE WHEN st.sigv = se.sigv THEN 1 ELSE 0 END)
           / {n_hashes}.0 AS est_j
  FROM cands c
  JOIN tsig st ON st.id = c.doc_id
  JOIN esig se ON se.id = c.eval_id AND st.perm = se.perm
  GROUP BY 1, 2
), goodc AS (
  SELECT doc_id, eval_id, est_j FROM est
  WHERE est_j >= {min_est!r}::DOUBLE
), tsh AS (
  SELECT id, COUNT(DISTINCT shingle) AS nsh FROM ({t_sh}) GROUP BY 1
), esh AS (
  SELECT id, COUNT(DISTINCT shingle) AS nsh FROM ({e_sh}) GROUP BY 1
), inter AS (
  SELECT g.doc_id, g.eval_id, g.est_j, COUNT(DISTINCT st.shingle) AS i
  FROM goodc g
  JOIN ({t_sh}) st ON st.id = g.doc_id
  JOIN ({e_sh}) se ON se.id = g.eval_id AND st.shingle = se.shingle
  GROUP BY 1, 2, 3
)
SELECT doc_id, eval_id, round(est_j, 6) AS est_jaccard,
       round(i / (ct.nsh + ce.nsh - i)::DOUBLE, 6) AS jaccard
FROM inter JOIN tsh ct ON doc_id = ct.id JOIN esh ce ON eval_id = ce.id
WHERE i / (ct.nsh + ce.nsh - i)::DOUBLE >= {tau!r}::DOUBLE"""


def ann_rademacher_sql(vectors_sql: str, queries_sql: str, k: int = 10,
                       bands: int = 32, band_bits: int = 4,
                       seed: int = 42, dim: int = 64) -> str:
    """Approximate-nearest-neighbor top-k matching
    ``similarity.lsh_topk_rademacher`` value-for-value: the ±1 hyperplanes
    are embedded as list literals; sign bits and ranks are QUANTIZED
    (projections and cosines rounded to 6 dp before comparison) so
    cross-engine agreement does not depend on summation order — DuckDB's
    ``list_inner_product`` and numpy matmul may differ in the last ulps,
    which a rounded comparison absorbs. Candidates join on (band-prefixed)
    bucket ids; exact cosine re-rank, ``row_number`` tie-broken by id.

    ``vectors_sql`` -> (id, v DOUBLE[]); ``queries_sql`` -> (qid, v).
    Returns (query_id, rank, vec_id, cos_sim round-6).
    """
    from grenier_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(dim, bands * band_bits, seed)

    def bucket_expr(b: int) -> str:
        terms = []
        for t in range(band_bits):
            row = ", ".join(f"{float(x):.1f}" for x in planes[b * band_bits + t])
            terms.append(f"(CASE WHEN round(list_inner_product(v, [{row}]),"
                         f" 6) > 0 THEN {1 << t} ELSE 0 END)")
        return f"({b << 32}::BIGINT + {' + '.join(terms)})"

    buckets = ", ".join(bucket_expr(b) for b in range(bands))
    return f"""
WITH v AS (SELECT id, v FROM ({vectors_sql})),
q AS (SELECT qid, v FROM ({queries_sql})),
vb AS (SELECT id, unnest([{buckets}]) AS bucket FROM v),
qb AS (SELECT qid, unnest([{buckets}]) AS bucket FROM q),
cands AS (SELECT DISTINCT qb.qid, vb.id
          FROM vb JOIN qb ON vb.bucket = qb.bucket),
scored AS (
  SELECT c.qid, c.id,
         list_inner_product(vv.v, qq.v) /
         (sqrt(list_inner_product(vv.v, vv.v)) *
          sqrt(list_inner_product(qq.v, qq.v))) AS cos
  FROM cands c JOIN v vv ON vv.id = c.id JOIN q qq ON qq.qid = c.qid
), ranked AS (
  SELECT qid, id, round(cos, 6) AS cos6,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cos, 6) DESC, id ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, rank::BIGINT AS rank, id AS vec_id,
       cos6 AS cos_sim
FROM ranked WHERE rank <= {k}"""


def ann_ivf_sql(vectors_sql: str, queries_sql: str, k: int = 10,
                n_centroids: int = 16, n_probe: int = 4) -> str:
    """IVF-flat top-k matching ``similarity.ivf_topk`` value-for-value:
    sampled centroids = the ``n_centroids`` lowest-id vectors; cell
    assignment by round-6-quantized cosine argmax (ties -> lowest cell
    id); queries probe their ``n_probe`` best cells; exact cosine re-rank
    ordered by the round-6 value, tie-broken by id. Quantization contract
    identical to :func:`ann_rademacher_sql` (summation-order-independent;
    numpy banker's vs DuckDB half-away rounding differs only on exact
    0.5e-6 ties — measure-zero, documented).

    ``vectors_sql`` -> (id, v DOUBLE[]); ``queries_sql`` -> (qid, v).
    Returns (query_id, rank, vec_id, cos_sim round-6).
    """
    # norm1(): zero-norm vectors divide by 1 instead of 0, yielding cosine
    # exactly 0.0 — the twin of similarity.ivf_topk's np.where/when guard
    def norm1(x):
        return (f"(CASE WHEN list_inner_product({x}, {x}) = 0 THEN 1 "
                f"ELSE sqrt(list_inner_product({x}, {x})) END)")

    return f"""
WITH v AS (SELECT id, v FROM ({vectors_sql})),
q AS (SELECT qid, v FROM ({queries_sql})),
c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM v ORDER BY id LIMIT {n_centroids})),
vcos AS (
  SELECT v.id, c.cid,
         round(list_inner_product(v.v, c.cv) /
               ({norm1('v.v')} * {norm1('c.cv')}), 6) AS cos6
  FROM v CROSS JOIN c
),
vc AS (SELECT id, cid AS cell FROM (
         SELECT id, cid, row_number() OVER (PARTITION BY id
                  ORDER BY cos6 DESC, cid ASC) AS rn FROM vcos)
       WHERE rn = 1),
qcos AS (
  SELECT q.qid, c.cid,
         round(list_inner_product(q.v, c.cv) /
               ({norm1('q.v')} * {norm1('c.cv')}), 6) AS cos6
  FROM q CROSS JOIN c
),
qc AS (SELECT qid, cid AS cell FROM (
         SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY cos6 DESC, cid ASC) AS rn FROM qcos)
       WHERE rn <= {n_probe}),
cands AS (SELECT DISTINCT qc.qid, vc.id
          FROM vc JOIN qc ON vc.cell = qc.cell),
scored AS (
  SELECT cd.qid, cd.id,
         list_inner_product(vv.v, qq.v) /
         ({norm1('vv.v')} * {norm1('qq.v')}) AS cos
  FROM cands cd JOIN v vv ON vv.id = cd.id JOIN q qq ON qq.qid = cd.qid
), ranked AS (
  SELECT qid, id, round(cos, 6) AS cos6,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cos, 6) DESC, id ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, rank::BIGINT AS rank, id AS vec_id,
       cos6 AS cos_sim
FROM ranked WHERE rank <= {k}"""


def semdedup_sql(vectors_sql: str, tau: float = 0.9,
                 n_centroids: int = 16) -> str:
    """DuckDB twin of ``similarity.semdedup`` (sampled-centroid default):
    same lowest-id centroids and round-6 argmax cell assignment as
    :func:`ann_ivf_sql` (zero norms coerced to 1 -> cosine exactly 0.0),
    same-cell pairs with round-6 cosine >= ``tau`` (zero-norm rows
    excluded, twin of the Spark side's NULL cosine), transitive closure
    by a recursive min-label CTE, kept = (id == component id).

    ``vectors_sql`` -> (id, v DOUBLE[]).
    Returns (vec_id, cell BIGINT, component_id, kept BOOL).
    """
    def norm1(x):
        return (f"(CASE WHEN list_inner_product({x}, {x}) = 0 THEN 1 "
                f"ELSE sqrt(list_inner_product({x}, {x})) END)")

    return f"""
WITH RECURSIVE
v AS (SELECT id, v FROM ({vectors_sql})),
c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM v ORDER BY id LIMIT {n_centroids})),
vcos AS (
  SELECT v.id, c.cid,
         round(list_inner_product(v.v, c.cv) /
               ({norm1('v.v')} * {norm1('c.cv')}), 6) AS cos6
  FROM v CROSS JOIN c
),
vc AS (SELECT id, cid AS cell FROM (
         SELECT id, cid, row_number() OVER (PARTITION BY id
                  ORDER BY cos6 DESC, cid ASC) AS rn FROM vcos)
       WHERE rn = 1),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM vc a JOIN vc b ON a.cell = b.cell AND a.id < b.id
  JOIN v va ON va.id = a.id JOIN v vb ON vb.id = b.id
  WHERE list_inner_product(va.v, va.v) > 0
    AND list_inner_product(vb.v, vb.v) > 0
    AND round(list_inner_product(va.v, vb.v) /
              (sqrt(list_inner_product(va.v, va.v)) *
               sqrt(list_inner_product(vb.v, vb.v))), 6) >= {tau}::DOUBLE
),
edges AS (SELECT id_a AS a, id_b AS bb FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT id, id AS lab FROM v
          UNION
          SELECT e.bb AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id)
SELECT r.id AS vec_id, vc.cell::BIGINT AS cell,
       MIN(r.lab) AS component_id,
       (r.id = MIN(r.lab)) AS kept
FROM reach r JOIN vc ON vc.id = r.id
GROUP BY r.id, vc.cell"""


def ann_pq_sql(vectors_sql: str, queries_sql: str, dim: int, k: int = 10,
               m: int = 4, ksub: int = 16, shortlist: int = 0) -> str:
    """DuckDB twin of ``similarity.pq_topk`` value-for-value: sampled
    codebooks = sub-chunks of the ``ksub`` lowest-id vectors after L2
    normalization (zero norm coerced to 1, the suite's standard guard);
    encoding by round-6 squared-L2 argmin per subspace
    (|x|^2 + |c|^2 - 2 x.c via list_inner_product — the identical
    decomposition the numpy side computes, so the round-6 grid absorbs
    summation-order float noise; ties -> lowest code); ADC = round-6 sum
    of the m per-subspace query table entries; rank by (adc asc, id asc).
    ``shortlist=r > 0`` mirrors the re-rank mode: ADC top-r candidates
    exactly re-ranked by round-6 cosine desc (ties by id; zero-norm rows
    excluded — the Spark side's NULL cosine). Quantization contract and
    the measure-zero banker's-rounding caveat as in
    :func:`ann_rademacher_sql`.

    ``vectors_sql`` -> (id, v DOUBLE[]); ``queries_sql`` -> (qid, v).
    Returns (query_id, rank, vec_id, adc_dist) — or (..., cos_sim) in
    shortlist mode.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    def norm1(x):
        return (f"(CASE WHEN list_inner_product({x}, {x}) = 0 THEN 1 "
                f"ELSE sqrt(list_inner_product({x}, {x})) END)")

    def nrm(col: str) -> str:
        return (f"list_transform({col}, x -> x / {norm1(col)})")

    def slc(col: str) -> str:
        return f"list_slice({col}, sub.j * {dsub} + 1, (sub.j + 1) * {dsub})"

    def d6(xs: str, cs: str) -> str:
        return (f"round(list_inner_product({xs}, {xs}) "
                f"+ list_inner_product({cs}, {cs}) "
                f"- 2 * list_inner_product({xs}, {cs}), 6)")

    if shortlist > 0:
        tail = f""",
cands AS (SELECT qid, id FROM ranked WHERE rank <= {shortlist}),
scored AS (
  SELECT cd.qid, cd.id,
         round(list_inner_product(vv.v, qq.v) /
               (sqrt(list_inner_product(vv.v, vv.v)) *
                sqrt(list_inner_product(qq.v, qq.v))), 6) AS cos6
  FROM cands cd JOIN v vv ON vv.id = cd.id JOIN q qq ON qq.qid = cd.qid
  WHERE list_inner_product(vv.v, vv.v) > 0
    AND list_inner_product(qq.v, qq.v) > 0),
reranked AS (
  SELECT qid, id, cos6,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos6 DESC, id ASC) AS rank
  FROM scored)
SELECT qid AS query_id, rank::BIGINT AS rank, id AS vec_id,
       cos6 AS cos_sim
FROM reranked WHERE rank <= {k}"""
    else:
        tail = f"""
SELECT qid AS query_id, rank::BIGINT AS rank, id AS vec_id,
       adc AS adc_dist
FROM ranked WHERE rank <= {k}"""

    return f"""
WITH v AS (SELECT id, v FROM ({vectors_sql})),
q AS (SELECT qid, v FROM ({queries_sql})),
sub AS (SELECT unnest(range({m}))::INT AS j),
cbase AS (SELECT row_number() OVER (ORDER BY id) - 1 AS code,
                 {nrm('v')} AS cv
          FROM (SELECT * FROM v ORDER BY id LIMIT {ksub})),
cb AS (SELECT sub.j, cbase.code, {slc('cbase.cv')} AS cs
       FROM cbase CROSS JOIN sub),
vn AS (SELECT id, {nrm('v')} AS nv FROM v),
vsub AS (SELECT vn.id, sub.j, {slc('vn.nv')} AS xs
         FROM vn CROSS JOIN sub),
vd AS (SELECT vsub.id, vsub.j, cb.code, {d6('vsub.xs', 'cb.cs')} AS d6
       FROM vsub JOIN cb ON vsub.j = cb.j),
venc AS (SELECT id, j, code FROM (
           SELECT id, j, code, row_number() OVER (PARTITION BY id, j
                    ORDER BY d6 ASC, code ASC) AS rn FROM vd)
         WHERE rn = 1),
qn AS (SELECT qid, {nrm('v')} AS nv FROM q),
qsub AS (SELECT qn.qid, sub.j, {slc('qn.nv')} AS xs
         FROM qn CROSS JOIN sub),
qd AS (SELECT qsub.qid, qsub.j, cb.code, {d6('qsub.xs', 'cb.cs')} AS d6
       FROM qsub JOIN cb ON qsub.j = cb.j),
adc AS (SELECT qd.qid, venc.id, round(SUM(qd.d6), 6) AS adc
        FROM venc JOIN qd ON venc.j = qd.j AND venc.code = qd.code
        GROUP BY qd.qid, venc.id),
ranked AS (
  SELECT qid, id, adc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc ASC, id ASC) AS rank
  FROM adc){tail}"""


def csk_positions_sql(keys_sql: str, key_col: str, depth: int, width: int,
                      seed: int, group_cols: "list[str] | None" = None
                      ) -> str:
    """(group..., row, col, sign) per key occurrence per hash row,
    matching core/countsketch.py: col = wang64(key XOR
    splitmix64(seed + row + 1)) % width, sign from the next hash bit
    (+1 when (h // width) is even)."""
    g = (", ".join(f"k.{c}" for c in group_cols) + ", ") if group_cols \
        else ""
    salts = chain_selects(
        f"SELECT (i + {seed + 1})::UHUGEINT AS si, i AS row "
        f"FROM generate_series(0, {depth - 1}) AS t(i)",
        splitmix64_stages("si", "salt"))
    hashed = chain_selects(
        f"SELECT {g}s.row, xor(k.{key_col}::UHUGEINT, s.salt) AS kx "
        f"FROM ({keys_sql}) k CROSS JOIN ({salts}) s",
        wang64_stages("kx", "h"))
    go = (", ".join(group_cols) + ", ") if group_cols else ""
    return (f"SELECT {go}row::BIGINT AS row, "
            f"(h % {width}::UHUGEINT)::BIGINT AS col, "
            f"(CASE WHEN (h // {width}::UHUGEINT) % 2::UHUGEINT "
            f"= 0::UHUGEINT THEN 1 ELSE -1 END)::BIGINT AS sign "
            f"FROM ({hashed})")


def csk_cells_sql(keys_sql: str, key_col: str, depth: int, width: int,
                  seed: int) -> str:
    """Non-zero count-sketch cells (row, col, cnt = SUM(sign)) for a key
    stream — sign-cancelled cells drop (the Spark dump reads np.nonzero
    of the counter matrix)."""
    pos = csk_positions_sql(keys_sql, key_col, depth, width, seed)
    return f"""
SELECT row, col, SUM(sign)::BIGINT AS cnt
FROM ({pos})
GROUP BY 1, 2
HAVING SUM(sign) <> 0
ORDER BY row, col"""


def _median_of_d_expr(d: int) -> int:
    """row_number rank of the median element over exactly d values,
    matching CountSketch._median_rows: sorted[(d-1)//2] (1-based rank)."""
    return (d - 1) // 2 + 1


def csk_f2_sql(keys_sql: str, key_col: str, depth: int, width: int,
               seed: int, group_col: str) -> str:
    """Per group: the AMS F2 estimate (median over rows of sum cell^2)
    AND the exact F2 (sum over keys of freq^2) — both exact BIGINTs, the
    same integers the Spark side computes."""
    pos = csk_positions_sql(keys_sql, key_col, depth, width, seed,
                            group_cols=[group_col])
    rk = _median_of_d_expr(depth)
    return f"""
WITH cells AS MATERIALIZED (
  SELECT {group_col}, row, col, SUM(sign)::HUGEINT AS c
  FROM ({pos}) GROUP BY 1, 2, 3),
rows_ AS (SELECT {group_col}, row, SUM(c * c) AS s
          FROM cells GROUP BY 1, 2),
med AS (SELECT {group_col}, s FROM (
          SELECT {group_col}, s, row_number() OVER (
                   PARTITION BY {group_col} ORDER BY s ASC) AS rn
          FROM rows_) WHERE rn = {rk}),
ex AS (SELECT {group_col}, SUM(cnt * cnt)::BIGINT AS f2_exact FROM (
         SELECT {group_col}, {key_col}, COUNT(*)::HUGEINT AS cnt
         FROM ({keys_sql}) GROUP BY 1, 2) GROUP BY 1)
SELECT med.{group_col}, med.s::BIGINT AS f2_est, ex.f2_exact
FROM med JOIN ex USING ({group_col})"""


def csk_inner_sql(keys_sql: str, key_col: str, depth: int, width: int,
                  seed: int, group_col: str) -> str:
    """Per group pair (a < b): the count-sketch join-size estimate
    (median over rows of the row dot product between the two groups'
    counter matrices — rows with no shared non-zero cells contribute 0)
    AND the exact join size sum_k f_a(k) * f_b(k). All exact BIGINTs."""
    pos = csk_positions_sql(keys_sql, key_col, depth, width, seed,
                            group_cols=[group_col])
    rk = _median_of_d_expr(depth)
    return f"""
WITH cells AS MATERIALIZED (
  SELECT {group_col} AS g, row, col, SUM(sign)::HUGEINT AS c
  FROM ({pos}) GROUP BY 1, 2, 3),
gs AS (SELECT DISTINCT g FROM cells),
prs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
prod AS (
  SELECT a.g AS ga, b.g AS gb, a.row, SUM(a.c * b.c) AS s
  FROM cells a JOIN cells b
    ON a.row = b.row AND a.col = b.col AND a.g < b.g
  GROUP BY 1, 2, 3),
-- every (pair, row) — missing row products are 0 (the Spark kernel
-- folds the full counter rows)
allrows AS (
  SELECT prs.ga, prs.gb, t.i AS row, COALESCE(prod.s, 0::HUGEINT) AS s
  FROM prs CROSS JOIN generate_series(0, {depth - 1}) AS t(i)
  LEFT JOIN prod ON prod.ga = prs.ga AND prod.gb = prs.gb
                AND prod.row = t.i),
med AS (SELECT ga, gb, s FROM (
          SELECT ga, gb, s, row_number() OVER (
                   PARTITION BY ga, gb ORDER BY s ASC) AS rn
          FROM allrows) WHERE rn = {rk}),
freqs AS (SELECT {group_col} AS g, {key_col} AS k,
                 COUNT(*)::HUGEINT AS cnt
          FROM ({keys_sql}) GROUP BY 1, 2),
ex AS (SELECT a.g AS ga, b.g AS gb, SUM(a.cnt * b.cnt)::BIGINT AS j
       FROM freqs a JOIN freqs b ON a.k = b.k AND a.g < b.g
       GROUP BY 1, 2)
SELECT med.ga AS type_a, med.gb AS type_b, med.s::BIGINT AS inner_est,
       COALESCE(ex.j, 0)::BIGINT AS inner_exact
FROM med LEFT JOIN ex ON ex.ga = med.ga AND ex.gb = med.gb"""


# subtract in SIGNED HUGEINT: UHUGEINT subtraction underflows for any
# hash >= 2^63 (caught by the adversarial KMV fuzz — gate corpora are
# under-full, so the kth-hash branch never executed there)
_SIGNED64 = ("(CASE WHEN {h} >= 9223372036854775808::UHUGEINT "
             "THEN {h}::HUGEINT - 18446744073709551616::HUGEINT "
             "ELSE {h}::HUGEINT END)::BIGINT")
_TWO64_D = "18446744073709551616.0"


def minhash_sig_pairs_sql(keys_sql: str, key_col: str, k: int, seed: int,
                          group_col: str) -> str:
    """DuckDB twin of a grouped MinHashSig build + the pairwise Jaccard
    surface (core/minhash.py): per group pair (a < b), the count of EQUAL
    signature components (``n_eq``, each component recomputed exactly as
    ``MIN(wang64(key XOR splitmix64(seed + i + 1)))`` over the group's
    distinct keys — the identical UHUGEINT chain as the kernel), the
    estimator ``n_eq / k`` and the EXACT Jaccard of the distinct key sets;
    pairs with empty intersection included. ``keys_sql`` yields
    ``group_col`` + UHUGEINT ``key_col`` pre-hash (hll_card_sql
    contract)."""
    salts = chain_selects(
        f"SELECT (i + {seed + 1})::UHUGEINT AS si, i AS comp "
        f"FROM generate_series(0, {k - 1}) AS t(i)",
        splitmix64_stages("si", "salt"))
    hashed = chain_selects(
        f"SELECT d.{group_col}, s.comp, xor(d.{key_col}, s.salt) AS kx "
        f"FROM (SELECT DISTINCT {group_col}, {key_col} FROM ({keys_sql})) d "
        f"CROSS JOIN ({salts}) s",
        wang64_stages("kx", "h"))
    return f"""
WITH dk AS (SELECT DISTINCT {group_col} AS g, {key_col} AS key
            FROM ({keys_sql})),
sig AS (SELECT {group_col} AS g, comp, MIN(h) AS sig FROM ({hashed})
        GROUP BY 1, 2),
eq AS (SELECT a.g AS ga, b.g AS gb,
              SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)::BIGINT AS n_eq
       FROM sig a JOIN sig b ON a.comp = b.comp AND a.g < b.g
       GROUP BY 1, 2),
sizes AS (SELECT g, COUNT(*)::BIGINT AS n FROM dk GROUP BY 1),
inter AS (SELECT a.g AS ga, b.g AS gb, COUNT(*)::BIGINT AS n_inter
          FROM dk a JOIN dk b ON a.key = b.key AND a.g < b.g
          GROUP BY 1, 2)
SELECT eq.ga AS source_a, eq.gb AS source_b, eq.n_eq,
       round(eq.n_eq::DOUBLE / {k}::DOUBLE, 6) AS est_jaccard,
       round(COALESCE(i.n_inter, 0)::DOUBLE
             / (sa.n + sb.n - COALESCE(i.n_inter, 0))::DOUBLE, 6)
           AS exact_jaccard
FROM eq
JOIN sizes sa ON sa.g = eq.ga
JOIN sizes sb ON sb.g = eq.gb
LEFT JOIN inter i ON i.ga = eq.ga AND i.gb = eq.gb
ORDER BY source_a, source_b"""


def _kmv_kept_cte(keys_sql: str, key_col: str, k: int,
                  group_cols: "list[str]") -> str:
    """Per-group bottom-``k`` DISTINCT wang64 hashes with their rank —
    the exact kept set of ``core.kmv.KMV`` (k smallest distinct)."""
    g = ", ".join(group_cols) if group_cols else "1 AS _g"
    gl = ", ".join(group_cols) if group_cols else "_g"
    hashed = chain_selects(keys_sql, wang64_stages(key_col, "h"))
    return f"""
  SELECT {gl}, h, rn FROM (
    SELECT {gl}, h, row_number() OVER (
             PARTITION BY {gl} ORDER BY h ASC) AS rn
    FROM (SELECT DISTINCT {g}, h FROM ({hashed})))
  WHERE rn <= {k}"""


def _kmv_est_expr(n_kept: str, maxh: str, k: int) -> str:
    """The KMV estimator: exact below k, else (k-1)/U_(k) with
    u = (kth::DOUBLE + 1.0)/2^64 — +1.0 applied AFTER the conversion,
    the identical float64 chain as ``core.kmv.KMV.estimate``."""
    return (f"(CASE WHEN {n_kept} < {k} THEN {n_kept}::DOUBLE "
            f"ELSE {k - 1}::DOUBLE / (({maxh}::DOUBLE + 1.0) "
            f"/ {_TWO64_D}) END)")


def kmv_kept_sql(keys_sql: str, key_col: str, k: int) -> str:
    """(rank, val) dump of an ungrouped KMV kept set — rank 0.. ascending
    by hash, val the signed-int64 view of the kept wang64 hash (the
    public face of the kept-set CTE; fold gates compare it directly to
    ``KMV.values.view(int64)``)."""
    kth = _SIGNED64.format(h="h")
    return f"""
WITH kept AS ({_kmv_kept_cte(keys_sql, key_col, k, [])})
SELECT (rn - 1)::BIGINT AS rank, {kth} AS val
FROM kept ORDER BY rank"""


def kmv_by_source_sql(keys_sql: str, key_col: str, k: int,
                      group_cols: "list[str]") -> str:
    """DuckDB twin of a grouped KMV build + ``kmv_stats_col`` /
    ``kmv_est_col``: per group, the count of kept bottom-k distinct
    wang64 hashes, the k-th hash (signed int64 view; NULL while
    under-full) and the round-6 estimate — every value recomputed
    exactly (``keys_sql`` yields group_cols + UHUGEINT ``key_col``
    pre-hash, same contract as :func:`hll_card_sql`)."""
    gl = ", ".join(group_cols)
    kth = _SIGNED64.format(h="MAX(h)")
    return f"""
WITH kept AS ({_kmv_kept_cte(keys_sql, key_col, k, group_cols)})
SELECT {gl}, COUNT(*)::BIGINT AS n_kept,
       CASE WHEN COUNT(*) = {k} THEN {kth} END AS kth_hash,
       round({_kmv_est_expr('COUNT(*)', 'MAX(h)', k)}, 6) AS est_distinct
FROM kept GROUP BY {gl}"""


def kmv_pairs_sql(keys_sql: str, key_col: str, k: int,
                  group_col: str) -> str:
    """DuckDB twin of the pairwise theta-sketch set operation
    (``core.kmv.KMV.jaccard`` / ``kmv_jaccard_col``): for every group
    pair (a < b), the bottom-k of the UNION of the two kept sets, the
    matched count (present in both), jaccard = matched/|L|,
    intersection = jaccard * union-estimate, and the theta DIFFERENCES
    both ways (``KMV.a_not_b``: only-in-a / only-in-b counts over L and
    their scaled estimates) — float chain identical to the kernel
    (ratio first, then the product)."""
    return f"""
WITH kept AS ({_kmv_kept_cte(keys_sql, key_col, k, [group_col])}),
gs AS (SELECT DISTINCT {group_col} AS g FROM kept),
prs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
uni AS (
  SELECT ga, gb, h, rn FROM (
    SELECT ga, gb, h, row_number() OVER (
             PARTITION BY ga, gb ORDER BY h ASC) AS rn
    FROM (SELECT DISTINCT p.ga, p.gb, kk.h
          FROM prs p JOIN kept kk
            ON kk.{group_col} = p.ga OR kk.{group_col} = p.gb))
  WHERE rn <= {k}),
m AS (
  SELECT u.ga, u.gb, COUNT(*)::BIGINT AS n_union, MAX(u.h) AS maxh,
         SUM(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_matched,
         SUM(CASE WHEN ka.h IS NOT NULL AND kb.h IS NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_only_a,
         SUM(CASE WHEN kb.h IS NOT NULL AND ka.h IS NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_only_b
  FROM uni u
  LEFT JOIN kept ka ON ka.{group_col} = u.ga AND ka.h = u.h
  LEFT JOIN kept kb ON kb.{group_col} = u.gb AND kb.h = u.h
  GROUP BY u.ga, u.gb)
SELECT ga AS source_a, gb AS source_b, n_matched, n_only_a, n_only_b,
       round(n_matched::DOUBLE / n_union::DOUBLE, 6) AS jaccard_est,
       round((n_matched::DOUBLE / n_union::DOUBLE)
             * {_kmv_est_expr('n_union', 'maxh', k)}, 6)
         AS intersection_est,
       round((n_only_a::DOUBLE / n_union::DOUBLE)
             * {_kmv_est_expr('n_union', 'maxh', k)}, 6) AS diff_a_est,
       round((n_only_b::DOUBLE / n_union::DOUBLE)
             * {_kmv_est_expr('n_union', 'maxh', k)}, 6) AS diff_b_est
FROM m"""


def kmv_diff_sql(keys_a_sql: str, keys_b_sql: str, key_col: str, k: int,
                 group_cols: "list[str]") -> str:
    """DuckDB twin of ``KMV.a_not_b`` across TWO keyed tables sharing the
    same group columns (core/kmv.py:104): per group, the bottom-k' of the
    union of A's and B's kept sets, ``n_only_a`` counted over that union,
    diff_frac = n_only_a/|L| and difference_est = diff_frac * union_est —
    the identical float chain as the kernel (ratio first, then the
    product; union_est exact below k). Used by the corpus-version-diff
    gate where A = new corpus vocabulary, B = old."""
    g = list(group_cols)
    gl = ", ".join(g)
    ugl = ", ".join(f"u.{c}" for c in g)
    on_a = " AND ".join([f"a.{c} = u.{c}" for c in g] + ["a.h = u.h"])
    on_b = " AND ".join([f"b.{c} = u.{c}" for c in g] + ["b.h = u.h"])
    return f"""
WITH ka AS ({_kmv_kept_cte(keys_a_sql, key_col, k, g)}),
kb AS ({_kmv_kept_cte(keys_b_sql, key_col, k, g)}),
uni AS (
  SELECT {gl}, h, rn FROM (
    SELECT {gl}, h, row_number() OVER (
             PARTITION BY {gl} ORDER BY h ASC) AS rn
    FROM (SELECT DISTINCT {gl}, h FROM (
            SELECT {gl}, h FROM ka
            UNION ALL SELECT {gl}, h FROM kb)))
  WHERE rn <= {k}),
m AS (
  SELECT {ugl}, COUNT(*)::BIGINT AS n_union, MAX(u.h) AS maxh,
         SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_only_a
  FROM uni u
  LEFT JOIN ka a ON {on_a}
  LEFT JOIN kb b ON {on_b}
  GROUP BY {ugl})
SELECT {gl}, n_only_a,
       round(n_only_a::DOUBLE / n_union::DOUBLE, 6) AS diff_frac,
       round((n_only_a::DOUBLE / n_union::DOUBLE)
             * {_kmv_est_expr('n_union', 'maxh', k)}, 6)
         AS difference_est
FROM m"""


def md5_low64_expr(col: str) -> str:
    """UHUGEINT from the first 16 hex chars of md5 — DuckDB twin of Spark
    ``conv(substring(md5(col), 1, 16), 16, -10)`` (same bits, unsigned)."""
    return f"('0x' || substr(md5({col}), 1, 16))::UBIGINT::UHUGEINT"


def md5_low64_signed_expr(col: str) -> str:
    """Signed-BIGINT view of :func:`md5_low64_expr` — the exact value
    Spark's ``functions.hashing.md5_low64_col`` produces (two's
    complement), for oracles that must ORDER or MIN/MAX by the hash."""
    u = md5_low64_expr(col)
    return (f"(CASE WHEN {u} >= 9223372036854775808::UHUGEINT "
            f"THEN ({u})::HUGEINT - 18446744073709551616::HUGEINT "
            f"ELSE ({u})::HUGEINT END)::BIGINT")


def cms_point_sql(stream_sql: str, key_col: str, depth: int, width: int,
                  seed: int) -> str:
    """Count-min point estimate per distinct key: min over rows of the cell
    count — the full query path of core/countmin.py ``query``."""
    cells = cms_cells_sql(stream_sql, key_col, depth, width, seed)
    upos = cms_positions_sql(
        f"SELECT DISTINCT {key_col} FROM ({stream_sql})",
        key_col, depth, width, seed)
    return f"""
SELECT u.{key_col}, MIN(c.cnt)::BIGINT AS est_count
FROM ({upos}) u JOIN ({cells}) c ON u.row = c.row AND u.col = c.col
GROUP BY u.{key_col}"""


def dd_bucket_expr(value: str, alpha: float) -> str:
    """DDSketch log-bucket index of a positive DOUBLE value —
    ``ceil(ln(x) / ln(gamma))`` with gamma = (1+alpha)/(1-alpha)
    (core/ddsketch.py update_batch). numpy's np.log and DuckDB's ln agree
    on every value except within ~1 ULP of an exact gamma power (knife
    edge, measure zero, absent from the fixture grid; see the
    cross-engine note in core/ddsketch.py — fuzzed smooth + adversarial
    in test_ddsketch.py)."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    return (f"CAST(ceil(ln(({value})::DOUBLE) / ln({gamma!r}::DOUBLE)) "
            f"AS INTEGER)")


def _dd_psi_terms_cte(values_sql: str, value_col: str, side_col: str,
                      alpha: float, g: "list[str]",
                      smooth: float,
                      weight_col: "str | None" = None) -> str:
    """The shared PSI CTE chain (vals -> buckets -> union bins ->
    smoothed (p-q)ln(p/q) terms) ending in a ``terms`` relation with
    (group..., side_a, side_b, bin, is_zero, c_a, c_b, n_a, n_b,
    n_bins, term) — consumed by :func:`dd_psi_sql` (fsum) and
    :func:`dd_psi_attr_sql` (top-|term| bins). side_a/side_b are the
    string-cast-ordered labels (arg_min/arg_max over s::VARCHAR), the
    SAME ordering the Spark operator uses — native MIN/MAX would flip
    multi-digit numeric labels. ``weight_col`` (integer >= 0) switches
    every count to SUM(w) — the WEIGHTED PSI the weighted-dd build
    (``build_dd_weighted``) produces; zero-weight rows drop on both
    engines."""
    gsel = "".join(f"{c}, " for c in g)
    gjoin = (" AND ".join(f"x.{c} = y.{c}" for c in g)) or "TRUE"
    sm = f"({smooth!r}::DOUBLE)"
    if weight_col is None:
        wsel, wcnt = "", "COUNT(*)::BIGINT"
        wfilter = ""
    else:
        wsel = f", ({weight_col})::BIGINT AS wt"
        wcnt = "SUM(wt)::BIGINT"
        wfilter = " AND wt > 0"
    return f"""
WITH vals AS (
  SELECT * FROM (
    SELECT {gsel}{side_col} AS s, ({value_col})::DOUBLE AS v{wsel}
    FROM ({values_sql})
  ) WHERE TRUE{wfilter}
), pos AS (
  SELECT {gsel}s, {dd_bucket_expr('v', alpha)} AS bin, {wcnt} AS c
  FROM vals WHERE v > 0 GROUP BY ALL
), zc AS (
  SELECT {gsel}s, {wcnt} AS c
  FROM vals WHERE v = 0 GROUP BY ALL
), zb AS (
  SELECT {gsel}COALESCE(MIN(bin), 0) - 1 AS zbin
  FROM pos GROUP BY ALL
), occ AS (
  SELECT {gsel}s, bin, c FROM pos
  UNION ALL
  SELECT {"".join(f"x.{c}, " for c in g)}x.s, y.zbin AS bin, x.c
  FROM zc x JOIN zb y ON {gjoin}
), bins AS (
  SELECT {gsel}bin FROM occ GROUP BY ALL
), nbins AS (
  SELECT {gsel}COUNT(*)::BIGINT AS n_bins FROM bins GROUP BY ALL
), n AS (
  SELECT {gsel}s, {wcnt} AS n FROM vals GROUP BY ALL
), two AS (
  SELECT {gsel}arg_min(s, s::VARCHAR) AS side_a,
         arg_max(s, s::VARCHAR) AS side_b
  FROM n GROUP BY ALL HAVING COUNT(DISTINCT s) = 2
), ct AS (
  SELECT {"".join(f"b.{c}, " for c in g)}b.bin, t.side_a, t.side_b,
         COALESCE(ca.c, 0)::BIGINT AS c_a, COALESCE(cb.c, 0)::BIGINT AS c_b
  FROM bins b
  JOIN two t ON {(" AND ".join(f"b.{c} = t.{c}" for c in g)) or "TRUE"}
  LEFT JOIN occ ca ON ({(" AND ".join(f"ca.{c} = b.{c}" for c in g)) or "TRUE"})
       AND ca.bin = b.bin AND ca.s = t.side_a
  LEFT JOIN occ cb ON ({(" AND ".join(f"cb.{c} = b.{c}" for c in g)) or "TRUE"})
       AND cb.bin = b.bin AND cb.s = t.side_b
), terms AS (
  SELECT {"".join(f"ct.{c}, " for c in g)}ct.side_a, ct.side_b, ct.bin,
         (ct.bin = z.zbin) AS is_zero,
         ct.c_a, ct.c_b, na.n AS n_a, nb2.n AS n_b, k.n_bins,
         (((ct.c_a::DOUBLE + {sm}) / (na.n::DOUBLE + {sm} * k.n_bins::DOUBLE))
          - ((ct.c_b::DOUBLE + {sm}) / (nb2.n::DOUBLE + {sm} * k.n_bins::DOUBLE)))
         * ln(((ct.c_a::DOUBLE + {sm}) / (na.n::DOUBLE + {sm} * k.n_bins::DOUBLE))
              / ((ct.c_b::DOUBLE + {sm}) / (nb2.n::DOUBLE + {sm} * k.n_bins::DOUBLE)))
         AS term
  FROM ct
  JOIN nbins k ON {(" AND ".join(f"k.{c} = ct.{c}" for c in g)) or "TRUE"}
  JOIN n na ON ({(" AND ".join(f"na.{c} = ct.{c}" for c in g)) or "TRUE"})
       AND na.s = ct.side_a
  JOIN n nb2 ON ({(" AND ".join(f"nb2.{c} = ct.{c}" for c in g)) or "TRUE"})
       AND nb2.s = ct.side_b
  JOIN zb z ON {(" AND ".join(f"z.{c} = ct.{c}" for c in g)) or "TRUE"}
)"""


def dd_psi_sql(values_sql: str, value_col: str, side_col: str,
               alpha: float, group_cols: "list[str] | None" = None,
               smooth: float = 0.5,
               weight_col: "str | None" = None) -> str:
    """Population Stability Index per group between two sides, the twin
    of ``operators.drift.psi_sketch_report``: exact integer DDSketch
    bucket counts (zeros as their own bin below every real bucket),
    add-``smooth`` smoothing over the union bin set, (p-q)*ln(p/q)
    terms in IEEE doubles (libm ln both engines; terms bit-equal,
    the Kahan fsum carries the suite's round-6 contract). Groups whose
    values are ALL zero are out of contract (no positive bucket to
    anchor the zero bin; the Spark operator emits psi = 0 for them).
    ``values_sql`` yields group_cols + [side_col, value_col],
    NULL-values already filtered; groups seen on only one side drop.
    Emits (group..., side_a, side_b, n_a, n_b, n_bins, psi)."""
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    chain = _dd_psi_terms_cte(values_sql, value_col, side_col, alpha, g,
                              smooth, weight_col)
    return f"""{chain}
SELECT {gsel}side_a, side_b, ANY_VALUE(n_a) AS n_a, ANY_VALUE(n_b) AS n_b,
       ANY_VALUE(n_bins) AS n_bins, fsum(term) AS psi
FROM terms GROUP BY ALL"""


def dd_ks_sql(values_sql: str, value_col: str, side_col: str,
              alpha: float, group_cols: "list[str] | None" = None,
              weight_col: "str | None" = None) -> str:
    """Two-sample KS of the alpha-quantized distributions, the twin of
    ``operators.drift.dd_ks_report``: integer bucket cumsums over the
    union bin set (zeros as their own bin below every real bucket),
    per-bin CDF differences in IEEE doubles, MAX — every step
    bit-reproducible, no smoothing, no transcendental. ``weight_col``
    switches every count to SUM(w) (the weighted KS). Same contracts as
    dd_psi_sql: values_sql yields group_cols + [side_col, value_col]
    (+ weight), NULLs pre-filtered, one-sided groups drop. Emits
    (group..., side_a, side_b, n_a, n_b, n_bins, ks)."""
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    # the PSI terms chain already builds the exact per-bin count matrix
    # (ct: bins x both sides with integer c_a/c_b and n_a/n_b); KS is a
    # different consumer of the same relation — smoothing is irrelevant
    # because only c_a/c_b/n_a/n_b/bin are read below
    chain = _dd_psi_terms_cte(values_sql, value_col, side_col, alpha, g,
                              0.5, weight_col)
    part = ("PARTITION BY " + ", ".join(g)) if g else ""
    return f"""{chain}
SELECT {gsel}side_a, side_b, ANY_VALUE(n_a) AS n_a, ANY_VALUE(n_b) AS n_b,
       COUNT(*)::BIGINT AS n_bins,
       MAX(ABS(cum_a::DOUBLE / n_a::DOUBLE
               - cum_b::DOUBLE / n_b::DOUBLE)) AS ks
FROM (
  SELECT {gsel}side_a, side_b, n_a, n_b,
         SUM(c_a) OVER ({part} ORDER BY bin) AS cum_a,
         SUM(c_b) OVER ({part} ORDER BY bin) AS cum_b
  FROM terms
) GROUP BY ALL"""


def dd_psi_attr_sql(values_sql: str, value_col: str, side_col: str,
                    alpha: float, group_cols: "list[str] | None" = None,
                    smooth: float = 0.5, k: int = 3,
                    weight_col: "str | None" = None) -> str:
    """Drift attribution twin of ``operators.drift.
    psi_attribution_report``: per group the top-``k`` PSI bins by
    |term| (ties to the lower bin id), each with its dd-estimator
    representative value (``2*gamma^b/(gamma+1)``, 0.0 for the zero
    bin), both sides' exact counts and the signed term — every column
    value-exact cross-engine (terms are bit-equal, ranking included).
    Emits (group..., side_a, side_b, rank, bin, rep_value, c_a, c_b,
    term)."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    part = ("PARTITION BY " + ", ".join(g)) if g else ""
    chain = _dd_psi_terms_cte(values_sql, value_col, side_col, alpha, g,
                              smooth, weight_col)
    return f"""{chain}
SELECT {gsel}side_a, side_b, rank, bin::BIGINT AS bin,
       CASE WHEN is_zero THEN 0.0::DOUBLE
            ELSE 2.0 * power({gamma!r}::DOUBLE, bin) /
                 ({gamma!r}::DOUBLE + 1.0) END AS rep_value,
       c_a, c_b, term
FROM (
  SELECT *, row_number() OVER ({part}
             ORDER BY abs(term) DESC, bin ASC) AS rank
  FROM terms
) WHERE rank <= {k}"""


def dd_buckets_sql(values_sql: str, value_col: str, alpha: float,
                   group_cols: "list[str] | None" = None) -> str:
    """Per-group DDSketch bucket histogram of positive values — the exact
    serialized state the distributed build emits (order-insensitive:
    bucket-wise count addition commutes with any merge tree)."""
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    return f"""
SELECT {gsel}{dd_bucket_expr(value_col, alpha)}::BIGINT AS bucket,
       COUNT(*)::BIGINT AS cnt
FROM ({values_sql}) WHERE {value_col} > 0
GROUP BY {", ".join(g + ['bucket'])}"""


def dd_quantile_sql(values_sql: str, value_col: str, alpha: float,
                    qs: "list[float]",
                    group_cols: "list[str] | None" = None,
                    alias: str = "est_value",
                    weight_col: "str | None" = None) -> str:
    """FULL DDSketch quantile estimator in pure DuckDB SQL — the complete
    pipeline of ``core.ddsketch.DDSketch.quantile``: log-bucket histogram,
    zero counter, rank = floor(q*(n-1)), first bucket whose cumulative
    count exceeds the rank, estimate 2*gamma^b/(gamma+1). Every step is
    the same IEEE double arithmetic the numpy kernel runs, so the estimate
    matches value-exactly (the only quantile sketch in the suite where the
    ESTIMATOR ITSELF is SQL-reproducible — kll/tdigest get rank-bound
    gates instead). NULL values must be filtered by the caller on both
    engines.

    ``weight_col`` (integer, >= 0) switches to the WEIGHTED estimator:
    bucket counts become SUM(w), n becomes the total weight W, and the
    rank walk answers floor(q*(W-1)) — the exact pipeline of
    ``DDSketch.update_batch_weighted`` + ``quantile`` (the weighted state
    IS a plain histogram with weighted counts, so the estimator replay is
    unchanged arithmetic). Zero-weight rows drop on both engines; NULL
    weights must be filtered by the caller like NULL values."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    g = list(group_cols or [])
    gsel = "".join(f"{c}, " for c in g)
    gby = ("GROUP BY " + ", ".join(g)) if g else ""
    part = ("PARTITION BY " + ", ".join(g)) if g else ""
    on = (" AND ".join(f"c.{c} = r.{c}" for c in g)) or "TRUE"
    qvals = ", ".join(f"({q!r}::DOUBLE)" for q in qs)
    rsel = "".join(f"r.{c}, " for c in g)
    if weight_col is None:
        wsel, wcnt, wtot, wzero = \
            "", "COUNT(*)::BIGINT", "COUNT(*)::BIGINT", \
            "COUNT(*) FILTER (WHERE v = 0)::BIGINT"
        wfilter = ""
    else:
        wsel = f", ({weight_col})::BIGINT AS w"
        wcnt = "SUM(w)::BIGINT"
        wtot = "COALESCE(SUM(w), 0)::BIGINT"
        wzero = "COALESCE(SUM(w) FILTER (WHERE v = 0), 0)::BIGINT"
        wfilter = " AND w > 0"  # zero-weight pairs are no-ops core-side
    return f"""
WITH vals AS (
  SELECT * FROM (
    SELECT {gsel}({value_col})::DOUBLE AS v{wsel} FROM ({values_sql})
  ) WHERE TRUE{wfilter}
), hist AS (
  SELECT {gsel}{dd_bucket_expr('v', alpha)} AS bucket,
         {wcnt} AS cnt
  FROM vals WHERE v > 0 GROUP BY {", ".join(g + ['bucket'])}
), cum AS (
  SELECT {gsel}bucket,
         SUM(cnt) OVER ({part} ORDER BY bucket) AS cum
  FROM hist
), tot AS (
  SELECT {gsel}{wtot} AS n,
         {wzero} AS zero
  FROM vals {gby}
), ranks AS (
  SELECT {gsel}qq.q, n, zero,
         CAST(floor(qq.q * (n - 1)::DOUBLE) AS BIGINT) AS rank
  FROM tot CROSS JOIN (SELECT unnest([{qvals}]) AS q) qq
)
SELECT {rsel}r.q AS q,
       CASE WHEN r.rank < r.zero THEN 0.0
            ELSE 2.0 * power({gamma!r}::DOUBLE,
                             (SELECT MIN(c.bucket) FROM cum c
                              WHERE {on} AND r.zero + c.cum > r.rank))
                 / ({gamma!r}::DOUBLE + 1.0)
       END AS {alias},
       r.n AS n
FROM ranks r"""
