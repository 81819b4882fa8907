"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q

- the generators give byte-identical files for the same seed;
- every output checker accepts a right answer and rejects a corrupted one.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import curation  # noqa: E402
import gen  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


def _write(tmp_path, name: str, seed: int) -> str:
    out = str(tmp_path / name)
    table, _ = gen.make_mqtt(seed)
    gen.write_mqtt(table, os.path.join(out, "mqtt"))
    docs, emb, _ = gen.make_corpus(seed)
    gen.write_corpus(docs, emb, os.path.join(out, "corpus"))
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (_write(tmp_path, n, s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    for sub in ("mqtt", "corpus"):
        da, db, dc = (_digest(os.path.join(x, sub)) for x in (a, b, c))
        assert da == db
        assert da != dc


def test_generated_mix_has_every_message_kind():
    table, registered = gen.make_mqtt(3)
    topics = table.column("topic").to_pylist()
    devices = {t.split("/")[2] for t in topics if t.startswith(gen.DATA_PREFIX)}
    assert gen.EVENTS_TOPIC in topics
    assert any(t.count("/") != 3 for t in topics if t.startswith(gen.DATA_PREFIX))
    assert devices - set(registered)  # unregistered devices send too
    payloads = set(table.column("payload").to_pylist())
    assert {"true", "ok"} <= payloads


# ---------------------------------------------------------------------------
# Ingest and dashboard checkers
# ---------------------------------------------------------------------------


def _reference_summary(tmp_path):
    table, registered = gen.make_mqtt(5)
    src = str(tmp_path / "src")
    gen.write_mqtt(table, src)
    con = duckdb.connect()
    checks.reference_points(con, os.path.join(src, "*.parquet"), registered)
    return checks.summarize(con, "pts", "quarantine")


def test_ingest_checker_rejects_a_corrupted_lake(tmp_path):
    want = _reference_summary(tmp_path)
    assert want["points"] > 0 and want["quarantined"] > 0
    assert checks.check_ingest(want, copy.deepcopy(want)) == []

    bad = copy.deepcopy(want)
    s = sorted(bad["series"])[0]
    n, n_ts, *rest = bad["series"][s]
    bad["series"][s] = (n + 1, n_ts, *rest)  # one duplicated point
    bad["points"] += 1
    assert checks.check_ingest(want, bad)

    bad = copy.deepcopy(want)
    bad["quarantined"] -= 1
    assert checks.check_ingest(want, bad)


def test_row_comparison_rejects_a_changed_value():
    rows = [("a", 1.25), ("b", 2.5)]
    assert checks.compare_rows("q", rows, list(reversed(rows)), ordered=False) == []
    assert checks.compare_rows("q", rows, [("a", 1.25), ("b", 2.5001)], ordered=False)
    assert checks.compare_rows("q", rows, rows[:1], ordered=False)
    assert checks.compare_rows("q", rows, list(reversed(rows)), ordered=True)


# ---------------------------------------------------------------------------
# Curation checkers: right answers built from the exact recomputations
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus():
    docs, emb, plant = gen.make_corpus(11)
    return checks.Corpus(docs, emb, plant)


def _components(c):
    parent = {d: d for d in c.doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = list(c.jaccard_pairs())
    for g in c.exact_groups().values():
        edges += [(g[0], m) for m in g[1:]]
    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in c.doc_ids}
    size = Counter(comp.values())
    return [
        {"doc_id": d, "component_id": comp[d], "component_size": size[comp[d]],
         "is_representative": comp[d] == d}
        for d in c.doc_ids
    ]


def right_answers(c) -> dict[str, list[dict]]:
    quality, gopher, pii = [], [], []
    for i, d in enumerate(c.doc_ids):
        t = c.tokens[i]
        n, u, score = c.quality(i)
        quality.append({"doc_id": d, "n_tokens": n, "n_unique": u, "quality_score": score,
                        "keep": score >= checks.QUALITY_KEEP})
        feats, rules = c.gopher(i)
        gopher.append({"doc_id": d, **feats, **rules, "keep": all(rules.values())})
        pii.append({"doc_id": d,
                    "n_emails": t.count(gen.PII_EMAIL) + (d % 3 == 0),
                    "n_ips": t.count(gen.PII_IP) + (d % 5 == 0),
                    "n_phones": t.count(gen.PII_PHONE) + (d % 7 == 0)})
    groups = c.exact_groups()
    reps = {min(g) for g in groups.values()}
    pairs = [{"doc_a": a, "doc_b": b, "jaccard": i / (na + nb - i), "n_inter": i, "n_a": na,
              "n_b": nb} for (a, b), (i, na, nb) in sorted(c.jaccard_pairs().items())]
    simhash = [{"doc_a": a, "doc_b": b, "hamming": 0}
               for g in groups.values() for j, a in enumerate(sorted(g)) for b in sorted(g)[j + 1:]]
    comps = _components(c)
    gate = []
    for i, (q, g) in enumerate(zip(quality, gopher)):
        d, pred = q["doc_id"], c.langid(i)
        reason = ("exact_duplicate" if d not in reps else "gopher_rules" if not g["keep"]
                  else "low_quality" if not q["keep"]
                  else "lang_mismatch" if pred != c.langs[i] else "kept")
        gate.append({"doc_id": d, "n_tokens": q["n_tokens"], "quality_score": q["quality_score"],
                     "predicted_lang": pred, "is_representative": d in reps,
                     "gopher_keep": g["keep"], "quality_keep": q["keep"],
                     "lang_match": pred == c.langs[i], "keep": reason == "kept",
                     "drop_reason": reason})
    comp_rep = {r["doc_id"] for r in comps if r["is_representative"]}
    mix = {}
    for i, d in enumerate(c.doc_ids):
        lg = c.langs[i]
        tot, kept, toks = mix.get(lg, (0, 0, 0))
        mix[lg] = (tot + 1, kept + (d in comp_rep), toks + (len(c.tokens[i]) if d in comp_rep else 0))
    dedup_mix = [{"lang": lg, "docs_total": v[0], "docs_kept": v[1], "tokens_kept": v[2]}
                 for lg, v in mix.items()]
    training = [{"predicted_lang": lg, "n_docs": k, "total_tokens": t, "avg_quality": q}
                for lg, (k, t, q) in checks.training_mix(c, comps).items()]
    bm25 = []
    for qid, scores in checks.bm25_scores(c).items():
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:checks.BM25_TOPK]
        bm25 += [{"query_id": qid, "doc_id": d, "rank": k + 1, "bm25": s}
                 for k, (d, s) in enumerate(top)]
    knn = []
    for i, v in enumerate(c.vec_ids):
        knn += [{"vec_id": v, "neighbor_id": j, "cosine": s, "rank": k + 1}
                for k, (s, j) in enumerate(c.topk(i, checks.KNN_K))]
    sem = [{"vec_id": v, "cluster": cl, "cos_c": cc, "kept": kp}
           for v, (cl, cc, kp) in checks.semdedup_exact(c).items()]
    return {
        "text_quality": quality, "text_gopher_rules": gopher, "text_pii_scrub": pii,
        "dedup_exact": [{"keep_doc_id": min(g), "n_copies": len(g)} for g in groups.values()],
        "dedup_minhash_lsh": pairs, "dedup_ngram_jaccard": pairs, "dedup_components": comps,
        "dedup_simhash": simhash, "pipeline_quality_gate": gate,
        "pipeline_dedup_mix": dedup_mix, "pipeline_training_mix": training,
        "text_bm25": bm25, "sim_knn_exact": knn, "dedup_semantic": sem,
    }


def _flip(rows, key):
    rows[0][key] = not rows[0][key]


def _drop_first(rows, _key=None):
    del rows[0]


CORRUPTIONS = {
    "text_quality": lambda r: r[0].update(n_unique=r[0]["n_unique"] + 1),
    "text_gopher_rules": lambda r: r[0].update(mean_word_len=r[0]["mean_word_len"] + 0.01),
    "text_pii_scrub": lambda r: r[1].update(n_emails=r[1]["n_emails"] + 1),
    "dedup_exact": lambda r: r[0].update(n_copies=r[0]["n_copies"] + 1),
    "dedup_minhash_lsh": lambda r: r[0].update(jaccard=r[0]["jaccard"] - 0.3),
    "dedup_ngram_jaccard": lambda r: r[0].update(n_inter=r[0]["n_inter"] + 1),
    "dedup_components": lambda r: r[0].update(component_size=r[0]["component_size"] + 1),
    "dedup_simhash": _drop_first,
    "pipeline_quality_gate": lambda r: _flip(r, "lang_match"),
    "pipeline_dedup_mix": lambda r: r[0].update(docs_kept=r[0]["docs_kept"] - 1),
    "pipeline_training_mix": lambda r: r[0].update(n_docs=r[0]["n_docs"] + 1),
    "text_bm25": lambda r: r[0].update(bm25=r[0]["bm25"] + 0.01),
    "sim_knn_exact": lambda r: r[0].update(cosine=r[0]["cosine"] - 0.01),
    "dedup_semantic": lambda r: [x.update(kept=not x["kept"]) for x in r[: len(r) // 10]],
}


def test_curation_checkers_accept_right_answers(corpus):
    assert {op: e for op, e in checks.check_campaign(right_answers(corpus), corpus).items() if e} == {}


@pytest.mark.parametrize("op", sorted(CORRUPTIONS))
def test_curation_checker_rejects_a_corrupted_result(corpus, op):
    results = right_answers(corpus)
    assert results[op], f"{op}: the small corpus gives an empty answer"
    CORRUPTIONS[op](results[op])
    assert checks.check_campaign(results, corpus)[op], f"{op}: corruption not detected"


def test_planted_structure_is_present(corpus):
    assert all(len(set(corpus.texts[d] for d in g)) == 1 for g in corpus.plant["exact_groups"])
    exact = corpus.jaccard_pairs()
    near = [p for p in corpus.plant["near_pairs"] if p in exact]
    assert len(near) >= len(corpus.plant["near_pairs"]) // 2


def test_corpus_runs_the_over_cap_shingle_path(corpus):
    df = Counter(x for i in range(len(corpus.texts)) for x in corpus.shingles(i))
    assert max(df.values()) > 64  # the operators' shingle document-frequency cap


def test_an_op_without_a_result_is_an_error(corpus):
    results = right_answers(corpus)
    del results["dedup_components"]
    errs = {op: e for op, e in checks.check_campaign(results, corpus).items() if e}
    assert set(errs) == {"dedup_components", "pipeline_dedup_mix", "pipeline_training_mix"}


def test_benchmark_json_names_every_campaign_op():
    with open(os.path.join(os.path.dirname(curation.__file__), "..", "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    for op in curation.CAMPAIGN:
        for m in ("construct_s", "construct_jobs", "exec_s"):
            assert f"curation.{op}.{m}" in names
