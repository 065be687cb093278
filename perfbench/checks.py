"""Reference answers and result checks for the benchmark.

DuckDB computes each op's answer from the generated files with the SQL below
(written for the benchmark; the shapes start from the engine's own oracle
SQL). The comparison and property checkers are plain functions over Python
values so that `test_checks.py` can feed them perturbed results.
"""

import datetime
import decimal
import math

FLOAT_TOL = 1e-9      # relative tolerance for float columns compared exactly
RANK_TOL = 2e-6       # absolute score tolerance for ranked (top-k) results
PAIR_THRESHOLD = 0.8  # n16 containment gate

# distinct word 3-shingles per document (sh), their counts (cnt) and the
# per-pair intersection sizes (p): the engine's shingle convention
SHINGLES_CTE = (
    "toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), "
    "sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s "
    "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), "
    "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), "
    "p AS MATERIALIZED (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a "
    "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db)"
)

_Q2 = "SELECT COUNT(*) AS cnt FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'"
_Q6 = "SELECT event_id, user_id, event_type, props FROM events WHERE event_id = 4242"

# op -> SQL whose result must equal the op's result as a multiset of rows
EXACT_SQL = {
    "q1_total_count": "SELECT COUNT(*) AS cnt FROM events",
    "q2_time_filter_count": _Q2,
    "q3_filter_count": "SELECT COUNT(*) AS cnt FROM events WHERE event_type = 'error'",
    "q4_min_max": "SELECT MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM events",
    "q5_max_by": "SELECT event_type, MAX(ts) AS max_ts FROM events GROUP BY event_type",
    "q6_point_filter": _Q6,
    "q7_distinct": "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
    "q9_star_join": (
        "SELECT n_name, COUNT(*) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
    "p1_partitioned_time_count": _Q2,
    "z1_zorder_range": (
        "SELECT event_type, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS value_e6 "
        "FROM events WHERE user_id BETWEEN 40 AND 90 "
        "AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-17 00:00:00' "
        "GROUP BY event_type"),
    "z2_bloom_pruned_point": _Q6,
    "n16_containment_pairs": (
        "WITH " + SHINGLES_CTE + " SELECT da AS doc_a, db AS doc_b, inter, LEAST(ca.c, cb.c) AS c_small "
        "FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id "
        "WHERE 5 * inter >= 4 * LEAST(ca.c, cb.c)"),
    "d26_source_affinity": (
        "WITH toks AS (SELECT source, string_split(text, ' ') w FROM documents), "
        "sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s "
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), "
        "sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2) "
        "SELECT src_a, src_b, inter, sa.n AS n_a, sb.n AS n_b FROM inter "
        "JOIN sizes sa ON src_a = sa.source JOIN sizes sb ON src_b = sb.source"),
    "q51_supplier_busy_days": (
        "WITH iv AS (SELECT l_suppkey, o_orderdate::DATE AS d0, l_shipdate::DATE AS d1 "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "m AS (SELECT l_suppkey, d0, d1, MAX(d1) OVER (PARTITION BY l_suppkey ORDER BY d0, d1 "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv), "
        "f AS (SELECT l_suppkey, d0, d1, CASE WHEN prev_max IS NULL OR d0 > prev_max THEN 1 ELSE 0 END AS opens FROM m), "
        "g AS (SELECT l_suppkey, d0, d1, SUM(opens) OVER (PARTITION BY l_suppkey ORDER BY d0, d1 "
        "ROWS UNBOUNDED PRECEDING) AS island FROM f), "
        "isl AS (SELECT l_suppkey, island, MIN(d0) AS s, MAX(d1) AS e FROM g GROUP BY l_suppkey, island) "
        "SELECT l_suppkey, COUNT(*)::BIGINT AS n_busy_periods, "
        "CAST(SUM(date_diff('day', s, e) + 1) AS BIGINT) AS busy_days FROM isl GROUP BY l_suppkey"),
}

# exact BM25 score per document for the t6 terms (same formula as the engine)
BM25_SCORES_SQL = (
    "WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, UNNEST(string_split(text, ' ')) AS token "
    "FROM documents), tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok "
    "WHERE token IN ('window', 'merge', 'dup') GROUP BY doc_id, dl, token), "
    "d AS (SELECT *, COUNT(*) OVER (PARTITION BY token) AS df FROM tf), "
    "st AS (SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl FROM documents) "
    "SELECT doc_id, SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 "
    "/ (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score FROM d, st GROUP BY doc_id"
)
# exact cosine (in double) between every pair of distinct vectors
COSINE_SQL = (
    "SELECT a.vec_id AS a, b.vec_id AS b, "
    "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos "
    "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id"
)
T6_K = 20
S13_K = 3


def norm_value(v):
    """A DuckDB value in the form the engine's result log writes it."""
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    return v


def _by_name(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [[r[i] for i in order] for r in rows]


def _sort_key(row):
    return [("~" if x is None else round(x, 6) if isinstance(x, float) else x) for x in row]


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(float(a), float(b), rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    return a == b


def compare_exact(ref_cols, ref_rows, got):
    """Errors (empty when equal) between a reference result and an op's
    result `{"columns": [...], "rows": [[...]]}`, as multisets of rows:
    integers, strings and timestamps exactly, floats at FLOAT_TOL."""
    rc, rr = _by_name(ref_cols, [[norm_value(v) for v in r] for r in ref_rows])
    gc, gr = _by_name(got["columns"], got["rows"])
    if rc != gc:
        return [f"columns {gc} != reference {rc}"]
    if len(rr) != len(gr):
        return [f"{len(gr)} rows != reference {len(rr)}"]
    rr = sorted(rr, key=_sort_key)
    gr = sorted(gr, key=_sort_key)
    for r, g in zip(rr, gr):
        if len(r) != len(g) or not all(_same(x, y) for x, y in zip(r, g)):
            return [f"row {g} != reference {r}"]
    return []


def check_ranked(got_scores, ref_scores, k):
    """A top-k result given as the exact scores of its entries in rank order,
    against the exact scores of the best k: same length, and each rank's
    score equal to the reference rank's within RANK_TOL (ties may swap)."""
    want = sorted(ref_scores, reverse=True)[:k]
    if len(got_scores) != len(want):
        return [f"{len(got_scores)} ranked entries != expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got_scores, want)):
        if g is None or abs(g - w) > RANK_TOL:
            return [f"rank {i + 1} score {g} != reference {w}"]
    return []


def rank_column(rows, cols, key_col, rank_col="rnk"):
    """Entries of a ranked result in rank order; errors if ranks are not 1..n."""
    ki, ri = cols.index(key_col), cols.index(rank_col)
    ordered = sorted(rows, key=lambda r: r[ri])
    ranks = [r[ri] for r in ordered]
    errs = [] if ranks == list(range(1, len(ranks) + 1)) else [f"ranks {ranks} are not 1..{len(ranks)}"]
    return [r[ki] for r in ordered], errs


SHAPES_PROPERTY_OPS = ("q1_total_count", "q7_distinct", "q4_min_max", "q6_point_filter", "z2_bloom_pruned_point")


def shapes_properties(first, manifest):
    """Cross-op properties of the shapes mix over first-pass results
    (op -> {"columns", "rows"})."""
    errs = []
    n = manifest["rows"]["events"]
    q1 = first["q1_total_count"]["rows"][0][0]
    q7 = sum(r[first["q7_distinct"]["columns"].index("cnt")] for r in first["q7_distinct"]["rows"])
    if not q7 == q1 == n:
        errs.append(f"sum(q7 counts)={q7}, q1={q1}, rows generated={n}")
    lo, hi = (w.replace("T", " ") for w in manifest["window"])
    for v in first["q4_min_max"]["rows"][0]:
        if not (lo <= v < hi):
            errs.append(f"q4 value {v} outside the generator window [{lo}, {hi})")
    if compare_exact(first["q6_point_filter"]["columns"], first["q6_point_filter"]["rows"],
                     first["z2_bloom_pruned_point"]):
        errs.append("z2 differs from q6")
    return errs


def pair_properties(name, pairs, planted, sims):
    """`pairs` the op's (doc_a, doc_b) list, `planted` the pairs it must find,
    `sims` the exact similarity DuckDB recomputed for each reported pair."""
    errs = []
    found = {tuple(p) for p in pairs}
    missing = [p for p in planted if tuple(p) not in found]
    if missing:
        errs.append(f"{name}: planted pairs not found: {missing[:5]}")
    low = [(p, s) for p, s in zip(pairs, sims) if s is None or s < PAIR_THRESHOLD]
    if low:
        errs.append(f"{name}: reported pairs below {PAIR_THRESHOLD}: {low[:5]}")
    return errs


def neighbour_properties(knn, groups):
    """`knn` maps vec_id -> neighbour ids in rank order (s13); every planted
    group member's nearest neighbours are the rest of its group."""
    errs = []
    for g in groups:
        for v in g:
            want = set(g) - {v}
            got = set(knn.get(v, [])[:len(want)])
            if got != want:
                errs.append(f"s13: planted neighbours of {v} are {sorted(want)}, got {sorted(got)}")
    return errs


def compaction_properties(table, stats, target_bytes, files_in, bytes_in, out_sizes, agg_in, agg_out):
    """Prep.compact keeps the row multiset, reads every input file, writes
    ceil(in_bytes / target) files, and keeps each within the target."""
    errs = []
    if agg_in != agg_out:
        errs.append(f"{table}: row multiset changed: {agg_in} -> {agg_out}")
    if stats["files_in"] != files_in or stats["bytes_in"] != bytes_in:
        errs.append(f"{table}: compaction read {stats['files_in']} files/{stats['bytes_in']} B, "
                    f"generated {files_in}/{bytes_in}")
    want = max(1, math.ceil(bytes_in / target_bytes))
    if stats["files_out"] != want or len(out_sizes) != want:
        errs.append(f"{table}: {stats['files_out']} output files ({len(out_sizes)} on disk), "
                    f"expected ceil({bytes_in}/{target_bytes}) = {want}")
    big = [s for s in out_sizes if s > target_bytes]
    if big:
        errs.append(f"{table}: output files over the {target_bytes} B target: {big}")
    return errs
