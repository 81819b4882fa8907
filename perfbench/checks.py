"""Output checks computed apart from the engine.

Expected answers come from DuckDB over the generated source files, or
from numpy/Python over the generated corpus; never from the lake the
engine wrote nor from a saved copy of an earlier output. Every checker
takes plain Python rows (dicts) and returns a list of error strings, so
``test_perfbench.py`` can feed each one a corrupted result without
starting Spark.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import duckdb
import numpy as np

import gen

TOL = 1e-6


def _close(a, b, tol: float = TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


# ---------------------------------------------------------------------------
# Ingest: the reference's point rules (influx_service.py:129-181) in SQL
# ---------------------------------------------------------------------------

_WELL_FORMED = (
    "len(string_split(topic, '/')) = 4 "
    "AND split_part(topic, '/', 3) <> '' AND split_part(topic, '/', 4) <> ''"
)


def reference_points(con: duckdb.DuckDBPyConnection, src_glob: str, registered: list[str]) -> None:
    """Create ``pts`` (expected points) and ``quarantine`` (expected
    dead-letter rows) from the source message files:

    - a data message has a topic under ``openchirp/device/``;
    - it is well formed with exactly four non-empty topic segments,
      otherwise it is quarantined;
    - a well-formed message of an unregistered device is dropped;
    - the transducer is the lower-cased fourth segment;
    - the payload is a float if it parses as one, else a boolean if it
      is one of the four boolean literals, else a string.
    """
    con.execute(f"CREATE OR REPLACE VIEW msgs AS SELECT * FROM read_parquet('{src_glob}')")
    con.execute("CREATE OR REPLACE TABLE registry (device_id VARCHAR)")
    con.executemany("INSERT INTO registry VALUES (?)", [(d,) for d in registered])
    con.execute(
        f"""
        CREATE OR REPLACE TABLE pts AS
        WITH data AS (
            SELECT ts, payload,
                   split_part(topic, '/', 3) AS device_id,
                   lower(split_part(topic, '/', 4)) AS transducer
            FROM msgs
            WHERE starts_with(topic, '{gen.DATA_PREFIX}') AND {_WELL_FORMED}
        )
        SELECT device_id || '_' || transducer AS series_id, device_id, transducer,
               ts,
               CASE WHEN TRY_CAST(payload AS DOUBLE) IS NOT NULL THEN 'float'
                    WHEN payload IN ('true', 'True', 'false', 'False') THEN 'bool'
                    ELSE 'string' END AS value_type,
               TRY_CAST(payload AS DOUBLE) AS value_double
        FROM data WHERE device_id IN (SELECT device_id FROM registry)
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TABLE quarantine AS
        SELECT * FROM msgs
        WHERE starts_with(topic, '{gen.DATA_PREFIX}') AND NOT ({_WELL_FORMED})
        """
    )


_SUMMARY_SQL = """
SELECT series_id, count(*) AS n, count(DISTINCT ts) AS n_ts,
       round(sum(value_double), 4) AS s,
       count(*) FILTER (WHERE value_type = 'float') AS n_float,
       count(*) FILTER (WHERE value_type = 'bool') AS n_bool,
       count(*) FILTER (WHERE value_type = 'string') AS n_string
FROM {rel} GROUP BY series_id
"""


def summarize(con: duckdb.DuckDBPyConnection, points_rel: str, quarantine_rel: str) -> dict:
    per_series = {
        r[0]: tuple(r[1:])
        for r in con.execute(_SUMMARY_SQL.format(rel=points_rel)).fetchall()
    }
    return {
        "points": sum(v[0] for v in per_series.values()),
        "quarantined": con.execute(f"SELECT count(*) FROM {quarantine_rel}").fetchone()[0],
        "series": per_series,
    }


def lake_summary(con: duckdb.DuckDBPyConnection, lake_dir: str) -> dict:
    points = f"read_parquet('{lake_dir}/points/*/*.parquet', hive_partitioning = true)"
    dead = f"read_parquet('{lake_dir}/dead_letter/*.parquet')"
    return summarize(con, points, dead)


def check_ingest(want: dict, got: dict) -> list[str]:
    errs = []
    if got["points"] != want["points"]:
        errs.append(f"ingest: {got['points']} points written, expected {want['points']}")
    if got["quarantined"] != want["quarantined"]:
        errs.append(
            f"ingest: {got['quarantined']} rows quarantined, expected {want['quarantined']}"
        )
    if set(got["series"]) != set(want["series"]):
        errs.append(
            "ingest: series differ "
            f"(+{len(set(got['series']) - set(want['series']))} "
            f"-{len(set(want['series']) - set(got['series']))})"
        )
    bad = [
        s for s in want["series"]
        if s in got["series"] and got["series"][s] != want["series"][s]
    ]
    if bad:
        errs.append(
            f"ingest: {len(bad)} series differ in counts, sums or types, "
            f"e.g. {bad[0]}: {got['series'][bad[0]]} != {want['series'][bad[0]]}"
        )
    dup = [s for s, v in got["series"].items() if v[0] != v[1]]
    if dup:
        errs.append(f"ingest: duplicate points in {len(dup)} series, e.g. {dup[0]}")
    return errs


# ---------------------------------------------------------------------------
# Dashboard: row-set comparison
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
    return v


def compare_rows(name: str, got: list[tuple], want: list[tuple], ordered: bool) -> list[str]:
    """Rows are tuples; floats compare at TOL, everything else exactly."""
    got = [tuple(_norm(v) for v in r) for r in got]
    want = [tuple(_norm(v) for v in r) for r in want]
    if not ordered:
        key = lambda r: tuple((v is None, str(v) if not isinstance(v, float) else "") for v in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(
            _close(a, b) if isinstance(b, float) or isinstance(a, float) else a == b
            for a, b in zip(g, w)
        ):
            return [f"{name}: row {i} is {g}, expected {w}"]
    return []


# ---------------------------------------------------------------------------
# Curation: exact recomputations over the generated corpus
# ---------------------------------------------------------------------------

# Published parameters of the campaign operators, restated here so the
# checks do not read them from the engine.
JACCARD_MIN = 0.5           # dedup_ngram_jaccard / dedup_minhash_lsh
SIMHASH_MAX_HAMMING = 3     # dedup_simhash
QUALITY_KEEP = 0.6          # text_quality
KNN_K = 3                   # sim_knn_exact
SEMDEDUP_EPS = 0.35         # dedup_semantic
BM25_K1, BM25_B = 1.2, 0.75
BM25_STRIDE, BM25_MAX_QUERIES, BM25_TERMS, BM25_TOPK = 100, 50, 8, 5
# text_gopher_rules: the Gopher filter (Rae et al. 2021, App. A) with
# the engine's documented adaptations (30 words minimum, and the two
# stopwords its vocabulary holds)
GOPHER_WORDS = (30, 100_000)
GOPHER_WORD_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_STOPWORDS = {"the", "a"}
GOPHER_MIN_STOPWORDS = 2
# language ID of the pipeline ops: keyword-overlap score per language,
# argmax, ties broken in LANG_ORDER
LANG_KEYWORDS = {
    "en": {"the", "fast", "data", "key", "value"},
    "de": {"order", "sort", "group", "merge"},
    "es": {"table", "scan", "join", "row"},
    "fr": {"query", "filter", "window", "batch"},
    "zh": {"spark", "hash", "line", "small"},
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]

# Recall floors for the approximate operators against the exact answer;
# every seed run while the benchmark was written met them.
RECALL_FLOOR = {
    "dedup_ngram_jaccard": 0.95,
    "dedup_minhash_lsh": 0.70,
    "dedup_components": 0.95,
    "dedup_semantic": 0.98,
}


class Corpus:
    """The generated corpus plus exact answers derived from it."""

    def __init__(self, docs, embeddings, plant: dict):
        self.doc_ids = docs.column("doc_id").to_pylist()
        self.texts = docs.column("text").to_pylist()
        self.langs = docs.column("lang").to_pylist()
        self.plant = plant
        self.tokens = [t.split(" ") for t in self.texts]
        self.vec_ids = embeddings.column("vec_id").to_pylist()
        self.labels = np.array(embeddings.column("label").to_pylist())
        self.emb = np.array(embeddings.column("embedding").to_pylist(), dtype=np.float64)
        self._pairs = None
        self._cos = None

    # -- text ---------------------------------------------------------------

    def shingles(self, i: int) -> set[str]:
        t = self.tokens[i]
        return {" ".join(t[j:j + 3]) for j in range(len(t) - 2)}

    def quality(self, i: int) -> tuple[int, int, float]:
        """text_quality's (n_tokens, n_unique, quality_score)."""
        t = self.tokens[i]
        n, u = len(t), len(set(t))
        score = round(
            round(math.log(n), 6) * 0.3 + round(u / n, 6) * 0.5
            + round(round(sum(map(len, t)) / n, 6) / 10, 7) * 0.2, 7
        )
        return n, u, score

    def gopher(self, i: int) -> tuple[dict, dict]:
        """text_gopher_rules' (features, rule verdicts)."""
        t = self.tokens[i]
        n = len(t)
        feats = {
            "n_words": n,
            "mean_word_len": round(sum(map(len, t)) / n, 6),
            "symbol_ratio": round(sum("#" in w or "..." in w for w in t) / n, 6),
            "alpha_ratio": round(sum(bool(re.search("[A-Za-z]", w)) for w in t) / n, 6),
            "n_stopwords": len(set(t) & GOPHER_STOPWORDS),
        }
        rules = {
            "rule_word_count": GOPHER_WORDS[0] <= n <= GOPHER_WORDS[1],
            "rule_word_len": GOPHER_WORD_LEN[0] <= feats["mean_word_len"] <= GOPHER_WORD_LEN[1],
            "rule_symbol_ratio": feats["symbol_ratio"] <= GOPHER_MAX_SYMBOL_RATIO,
            "rule_alpha_ratio": feats["alpha_ratio"] >= GOPHER_MIN_ALPHA_RATIO,
            "rule_stopwords": feats["n_stopwords"] >= GOPHER_MIN_STOPWORDS,
        }
        return feats, rules

    def langid(self, i: int) -> str:
        t = self.tokens[i]
        scores = {lg: sum(w in LANG_KEYWORDS[lg] for w in t) for lg in LANG_ORDER}
        best = max(scores.values())
        return next(lg for lg in LANG_ORDER if scores[lg] == best)

    def exact_groups(self) -> dict[str, list[int]]:
        g = defaultdict(list)
        for i, t in zip(self.doc_ids, self.texts):
            g[t].append(i)
        return g

    def jaccard_pairs(self) -> dict[tuple[int, int], tuple[int, int, int]]:
        """Every pair with 3-shingle Jaccard >= JACCARD_MIN:
        (a, b) -> (|A∩B|, |A|, |B|)."""
        if self._pairs is None:
            sh = [self.shingles(i) for i in range(len(self.texts))]
            index = defaultdict(list)
            for i, s in enumerate(sh):
                for x in s:
                    index[x].append(i)
            cand = set()
            for members in index.values():
                if len(members) > 1:
                    for a_i, a in enumerate(members):
                        for b in members[a_i + 1:]:
                            cand.add((a, b))
            out = {}
            for a, b in cand:
                inter = len(sh[a] & sh[b])
                if inter / (len(sh[a]) + len(sh[b]) - inter) >= JACCARD_MIN:
                    out[(self.doc_ids[a], self.doc_ids[b])] = (inter, len(sh[a]), len(sh[b]))
            self._pairs = out
        return self._pairs

    # -- vectors ------------------------------------------------------------

    def cos(self) -> np.ndarray:
        if self._cos is None:
            n = self.emb / np.linalg.norm(self.emb, axis=1, keepdims=True)
            self._cos = n @ n.T
        return self._cos

    def topk(self, i: int, k: int) -> list[tuple[float, int]]:
        c = np.round(self.cos()[i], 6)
        order = sorted((-c[j], self.vec_ids[j]) for j in range(len(c)) if j != i)
        return [(-s, j) for s, j in order[:k]]


def _by(rows, key):
    out = {}
    for r in rows:
        out[r[key]] = r
    return out


def check_text_quality(rows, c: Corpus) -> list[str]:
    got = _by(rows, "doc_id")
    if len(rows) != len(c.doc_ids) or set(got) != set(c.doc_ids):
        return [f"text_quality: {len(rows)} rows for {len(c.doc_ids)} documents"]
    for i, d in enumerate(c.doc_ids):
        r = got[d]
        n, u, score = c.quality(i)
        if (r["n_tokens"], r["n_unique"]) != (n, u) or not _close(r["quality_score"], score, 1e-5):
            return [f"text_quality: doc {d} features {r} expected n={n} u={u} score={score}"]
        if r["keep"] != (r["quality_score"] >= QUALITY_KEEP):
            return [f"text_quality: doc {d} keep={r['keep']} at score {r['quality_score']}"]
    return []


def check_text_gopher_rules(rows, c: Corpus) -> list[str]:
    """Every feature, every rule and the verdict, recomputed per document."""
    got = _by(rows, "doc_id")
    if len(rows) != len(c.doc_ids) or set(got) != set(c.doc_ids):
        return [f"text_gopher_rules: {len(rows)} rows for {len(c.doc_ids)} documents"]
    for i, d in enumerate(c.doc_ids):
        r = got[d]
        feats, rules = c.gopher(i)
        bad = [k for k, v in feats.items() if not _close(r[k], v)]
        bad += [k for k, v in rules.items() if r[k] != v]
        if r["keep"] != all(rules.values()):
            bad.append("keep")
        if bad:
            return [f"text_gopher_rules: doc {d} differs in {bad}: {r}, expected {feats} {rules}"]
    return []


def check_text_pii_scrub(rows, c: Corpus) -> list[str]:
    """Counts are the planted tokens plus the operator's documented
    per-doc_id augmentation (an email when doc_id % 3 == 0, an IPv4
    when % 5 == 0, a phone number when % 7 == 0)."""
    got = _by(rows, "doc_id")
    if len(rows) != len(c.doc_ids) or set(got) != set(c.doc_ids):
        return [f"text_pii_scrub: {len(rows)} rows for {len(c.doc_ids)} documents"]
    for i, d in enumerate(c.doc_ids):
        want = (
            c.tokens[i].count(gen.PII_EMAIL) + (d % 3 == 0),
            c.tokens[i].count(gen.PII_IP) + (d % 5 == 0),
            c.tokens[i].count(gen.PII_PHONE) + (d % 7 == 0),
        )
        have = (got[d]["n_emails"], got[d]["n_ips"], got[d]["n_phones"])
        if have != want:
            return [f"text_pii_scrub: doc {d} counts {have}, expected {want}"]
    return []


def check_dedup_exact(rows, c: Corpus) -> list[str]:
    want = Counter((min(g), len(g)) for g in c.exact_groups().values())
    have = Counter((r["keep_doc_id"], r["n_copies"]) for r in rows)
    errs = []
    if have != want:
        errs.append(f"dedup_exact: {sum(((have - want) + (want - have)).values())} groups differ")
    for g in c.plant["exact_groups"]:
        if have.get((min(g), len(g)), 0) != 1:
            errs.append(f"dedup_exact: planted group {g} not recovered")
            break
    return errs


def _pair_set(rows) -> list[tuple[int, int]]:
    return [(r["doc_a"], r["doc_b"]) for r in rows]


def _check_verified_pairs(name: str, rows, c: Corpus) -> list[str]:
    """Pairs verified exactly: none below the threshold, none repeated,
    recall against the exact pair set at or above the floor."""
    pairs = _pair_set(rows)
    exact = c.jaccard_pairs()
    errs = []
    if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
        errs.append(f"{name}: repeated or unordered pairs")
    idx = {d: i for i, d in enumerate(c.doc_ids)}
    for r in rows:
        a, b = idx[r["doc_a"]], idx[r["doc_b"]]
        sa, sb = c.shingles(a), c.shingles(b)
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j < JACCARD_MIN or not _close(r["jaccard"], j, 1e-5):
            errs.append(f"{name}: pair {(r['doc_a'], r['doc_b'])} reports {r['jaccard']}, exact {j:.6f}")
            break
        if "n_inter" in r and (r["n_inter"], r["n_a"], r["n_b"]) != (inter, len(sa), len(sb)):
            errs.append(f"{name}: pair {(r['doc_a'], r['doc_b'])} counts differ")
            break
    recall = len(set(pairs) & set(exact)) / max(1, len(exact))
    if recall < RECALL_FLOOR[name]:
        errs.append(f"{name}: recall {recall:.3f} below {RECALL_FLOOR[name]}")
    return errs


def check_dedup_ngram_jaccard(rows, c: Corpus) -> list[str]:
    return _check_verified_pairs("dedup_ngram_jaccard", rows, c)


def check_dedup_minhash_lsh(rows, c: Corpus) -> list[str]:
    return _check_verified_pairs("dedup_minhash_lsh", rows, c)


def check_dedup_components(rows, c: Corpus) -> list[str]:
    comp = {r["doc_id"]: r for r in rows}
    if len(rows) != len(c.doc_ids) or set(comp) != set(c.doc_ids):
        return [f"dedup_components: {len(rows)} rows for {len(c.doc_ids)} documents"]
    sizes = Counter(r["component_id"] for r in rows)
    for d, r in comp.items():
        if (
            r["component_id"] > d
            or r["is_representative"] != (r["component_id"] == d)
            or r["component_size"] != sizes[r["component_id"]]
            or r["component_id"] not in comp
        ):
            return [f"dedup_components: inconsistent row {r}"]
    for g in c.plant["exact_groups"]:
        if len({comp[d]["component_id"] for d in g}) != 1:
            return [f"dedup_components: planted exact group {g} split"]
    exact = c.jaccard_pairs()
    joined = sum(comp[a]["component_id"] == comp[b]["component_id"] for a, b in exact)
    recall = joined / max(1, len(exact))
    if recall < RECALL_FLOOR["dedup_components"]:
        return [f"dedup_components: only {recall:.3f} of near-dup pairs share a component"]
    return []


def check_dedup_simhash(rows, c: Corpus) -> list[str]:
    pairs = _pair_set(rows)
    if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
        return ["dedup_simhash: repeated or unordered pairs"]
    if any(not 0 <= r["hamming"] <= SIMHASH_MAX_HAMMING for r in rows):
        return ["dedup_simhash: pair beyond the hamming bound"]
    # identical shingle sets give identical fingerprints: every exact
    # duplicate pair must be reported at distance 0
    have = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    for g in c.exact_groups().values():
        g = sorted(g)
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                if len(c.tokens[c.doc_ids.index(a)]) >= 3 and have.get((a, b)) != 0:
                    return [f"dedup_simhash: exact duplicates {(a, b)} missing"]
    return []


def check_pipeline_quality_gate(rows, c: Corpus) -> list[str]:
    got = _by(rows, "doc_id")
    if len(rows) != len(c.doc_ids) or set(got) != set(c.doc_ids):
        return [f"pipeline_quality_gate: {len(rows)} rows for {len(c.doc_ids)} documents"]
    rep = {min(g) for g in c.exact_groups().values()}
    for i, d in enumerate(c.doc_ids):
        r = got[d]
        n, _u, score = c.quality(i)
        pred = c.langid(i)
        gopher_keep = all(c.gopher(i)[1].values())
        quality_keep = r["quality_score"] >= QUALITY_KEEP
        reason = (
            "exact_duplicate" if d not in rep
            else "gopher_rules" if not gopher_keep
            else "low_quality" if not quality_keep
            else "lang_mismatch" if pred != c.langs[i]
            else "kept"
        )
        if (
            r["n_tokens"] != n
            or not _close(r["quality_score"], score, 1e-5)
            or r["predicted_lang"] != pred
            or r["lang_match"] != (pred == c.langs[i])
            or r["is_representative"] != (d in rep)
            or r["gopher_keep"] != gopher_keep
            or r["quality_keep"] != quality_keep
            or r["drop_reason"] != reason
            or r["keep"] != (reason == "kept")
        ):
            return [f"pipeline_quality_gate: doc {d} verdict {r}, expected {pred} {reason}"]
    return []


def check_pipeline_dedup_mix(rows, c: Corpus, components) -> list[str]:
    total = Counter(c.langs)
    rep = {r["doc_id"] for r in components if r["is_representative"]}
    kept, toks = Counter(), Counter()
    for i, d in enumerate(c.doc_ids):
        if d in rep:
            kept[c.langs[i]] += 1
            toks[c.langs[i]] += len(c.tokens[i])
    have = {r["lang"]: (r["docs_total"], r["docs_kept"], r["tokens_kept"]) for r in rows}
    want = {lg: (total[lg], kept[lg], toks[lg]) for lg in total}
    if have != want:
        return [f"pipeline_dedup_mix: {have} expected {want}"]
    return []


def training_mix(c: Corpus, components) -> dict[str, tuple[int, int, float]]:
    """Per predicted language: (documents, tokens, mean quality) of the
    documents that represent their near-duplicate component and pass
    the quality threshold. Mean quality is summed in units of 1e-7, as
    the operator publishes it."""
    rep = {r["doc_id"] for r in components if r["is_representative"]}
    acc = defaultdict(lambda: [0, 0, 0])
    for i, d in enumerate(c.doc_ids):
        n, _u, score = c.quality(i)
        if d in rep and score >= QUALITY_KEEP:
            a = acc[c.langid(i)]
            a[0] += 1
            a[1] += n
            a[2] += round(score * 10_000_000)
    return {lg: (k, t, round(q / (k * 10_000_000), 7)) for lg, (k, t, q) in acc.items()}


def check_pipeline_training_mix(rows, c: Corpus, components) -> list[str]:
    want = training_mix(c, components)
    have = {r["predicted_lang"]: r for r in rows}
    if len(have) != len(rows) or set(have) != set(want):
        return [f"pipeline_training_mix: languages {sorted(have)}, expected {sorted(want)}"]
    for lg, (k, t, q) in want.items():
        r = have[lg]
        if (r["n_docs"], r["total_tokens"]) != (k, t) or not _close(r["avg_quality"], q):
            return [f"pipeline_training_mix: {lg} is {r}, expected {(k, t, q)}"]
    return []


def bm25_scores(c: Corpus) -> dict[int, dict[int, float]]:
    """Okapi BM25 for the operator's query set: every BM25_STRIDE-th
    document (up to BM25_MAX_QUERIES) poses its first BM25_TERMS
    distinct words. Per-term contributions are rounded to 1e-6, as the
    operator publishes them."""
    n_docs = len(c.doc_ids)
    avgdl = sum(len(t) for t in c.tokens) / n_docs
    df = Counter()
    tfs = []
    for t in c.tokens:
        tf = Counter(t)
        tfs.append(tf)
        df.update(tf.keys())
    out = {}
    for i, d in enumerate(c.doc_ids):
        if d % BM25_STRIDE or d >= BM25_STRIDE * BM25_MAX_QUERIES:
            continue
        q = list(dict.fromkeys(c.tokens[i][:BM25_TERMS]))
        scores = {}
        for j, tf in enumerate(tfs):
            dl = len(c.tokens[j])
            s = 0
            hit = False
            for w in q:
                f = tf.get(w, 0)
                if not f:
                    continue
                hit = True
                idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                s += round(round(
                    idf * (f * (BM25_K1 + 1.0) / (f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))),
                    6) * 1_000_000)
            if hit:
                scores[c.doc_ids[j]] = s / 1_000_000
        out[d] = scores
    return out


def check_text_bm25(rows, c: Corpus) -> list[str]:
    want = bm25_scores(c)
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    if set(by_q) != set(want):
        return [f"text_bm25: queries {sorted(by_q)[:5]}..., expected {sorted(want)[:5]}..."]
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        scores = want[qid]
        if [r["rank"] for r in rs] != list(range(1, min(BM25_TOPK, len(scores)) + 1)):
            return [f"text_bm25: query {qid} ranks {[r['rank'] for r in rs]}"]
        for r in rs:
            if not _close(r["bm25"], scores.get(r["doc_id"], -1.0), 1e-5):
                return [f"text_bm25: query {qid} doc {r['doc_id']} score {r['bm25']}, "
                        f"exact {scores.get(r['doc_id'])}"]
        shown = {r["doc_id"] for r in rs}
        best_rest = max((s for d, s in scores.items() if d not in shown), default=-1.0)
        if rs[-1]["bm25"] < best_rest - 1e-5:
            return [f"text_bm25: query {qid} misses a document scoring {best_rest}"]
    return []


def check_sim_knn_exact(rows, c: Corpus) -> list[str]:
    by_v = defaultdict(list)
    for r in rows:
        by_v[r["vec_id"]].append(r)
    if set(by_v) != set(c.vec_ids):
        return [f"sim_knn_exact: {len(by_v)} vectors, expected {len(c.vec_ids)}"]
    for i, v in enumerate(c.vec_ids):
        rs = sorted(by_v[v], key=lambda r: r["rank"])
        want = c.topk(i, KNN_K)
        if [r["rank"] for r in rs] != list(range(1, KNN_K + 1)):
            return [f"sim_knn_exact: vector {v} ranks {[r['rank'] for r in rs]}"]
        for r, (s, _) in zip(rs, want):
            if not _close(r["cosine"], s, 2e-6):
                return [f"sim_knn_exact: vector {v} rank {r['rank']} cosine {r['cosine']}, exact {s}"]
        cos = c.cos()[i]
        for r in rs:
            if not _close(cos[c.vec_ids.index(r["neighbor_id"])], r["cosine"], 2e-6):
                return [f"sim_knn_exact: vector {v} neighbour {r['neighbor_id']} cosine mismatch"]
    return []


def semdedup_exact(c: Corpus) -> dict[int, tuple[int, float, bool]]:
    """SemDeDup over label centroids: assign each vector to the centroid
    of highest cosine; within a cluster drop a vector when a vector
    closer to the centroid (ties: lower id) has cosine >= SEMDEDUP_EPS
    with it."""
    labels = sorted(set(c.labels.tolist()))
    cent = np.array([c.emb[c.labels == lb].mean(axis=0) for lb in labels])
    nv = c.emb / np.linalg.norm(c.emb, axis=1, keepdims=True)
    nc = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    cc = np.round(nv @ nc.T, 6)
    assign = [labels[int(np.argmax(row))] for row in cc]
    cos_c = [float(cc[i, labels.index(a)]) for i, a in enumerate(assign)]
    cos = np.round(c.cos(), 6)
    out = {}
    for i, v in enumerate(c.vec_ids):
        dropped = any(
            assign[j] == assign[i]
            and (cos_c[j] < cos_c[i] or (cos_c[j] == cos_c[i] and c.vec_ids[j] < v))
            and cos[i, j] >= SEMDEDUP_EPS
            for j in range(len(c.vec_ids)) if j != i
        )
        out[v] = (assign[i], cos_c[i], not dropped)
    return out


def check_dedup_semantic(rows, c: Corpus) -> list[str]:
    want = semdedup_exact(c)
    got = _by(rows, "vec_id")
    if set(got) != set(want):
        return [f"dedup_semantic: {len(got)} vectors, expected {len(want)}"]
    agree = sum(
        got[v]["cluster"] == w[0] and got[v]["kept"] == w[2] and _close(got[v]["cos_c"], w[1], 1e-5)
        for v, w in want.items()
    )
    share = agree / len(want)
    if share < RECALL_FLOOR["dedup_semantic"]:
        return [f"dedup_semantic: {share:.3f} of verdicts agree with the exact pass"]
    return []


# op -> (checker, ops whose checked output the checker reads), in the
# campaign's run order
CHECKS = {
    "text_quality": (check_text_quality, ()),
    "text_gopher_rules": (check_text_gopher_rules, ()),
    "text_pii_scrub": (check_text_pii_scrub, ()),
    "dedup_exact": (check_dedup_exact, ()),
    "dedup_minhash_lsh": (check_dedup_minhash_lsh, ()),
    "dedup_ngram_jaccard": (check_dedup_ngram_jaccard, ()),
    "dedup_components": (check_dedup_components, ()),
    "dedup_simhash": (check_dedup_simhash, ()),
    "pipeline_quality_gate": (check_pipeline_quality_gate, ()),
    "pipeline_dedup_mix": (check_pipeline_dedup_mix, ("dedup_components",)),
    "text_bm25": (check_text_bm25, ()),
    "sim_knn_exact": (check_sim_knn_exact, ()),
    "dedup_semantic": (check_dedup_semantic, ()),
    "pipeline_training_mix": (check_pipeline_training_mix, ("dedup_components",)),
}


def check_campaign(results: dict[str, list[dict]], c: Corpus) -> dict[str, list[str]]:
    """Check every campaign op; op -> errors. An op without a result,
    or whose check needs an op without a result, is an error."""
    out = {}
    for op, (fn, needs) in CHECKS.items():
        missing = [x for x in (op, *needs) if x not in results]
        if missing:
            out[op] = [f"{op}: not checked, no result from {', '.join(missing)}"]
        else:
            out[op] = fn(results[op], c, *(results[x] for x in needs))
    return out
