"""Seeded input generators.

Everything the engine sees comes from here, and everything here comes
from ``numpy.random.default_rng(seed)``: the same seed gives
byte-identical files (``test_perfbench.py`` checks this).

Two input families:

- MQTT messages ``(ts, topic, payload)`` as Parquet files, the shape
  the file-stream source of the ingest path reads;
- a curation corpus: ``documents.parquet`` and ``embeddings.parquet``
  in the layout the registry operators read from a table directory.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# MQTT messages
# ---------------------------------------------------------------------------

EVENTS_TOPIC = "openchirp/service/bench/thing/events"
DATA_PREFIX = "openchirp/device/"
BASE_TS = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
SPAN_S = 2 * 86400  # messages arrive over two days -> two date partitions

# (topic spelling, payload kind). Topic case varies on purpose: the
# transducer segment is lower-cased on ingest.
TRANSDUCERS = [
    ("Temperature", "float"),
    ("humidity", "float"),
    ("Door", "bool"),
    ("status", "string"),
]
FLOAT_TRANSDUCERS = ["temperature", "humidity"]
_BOOLS = np.array(["true", "false", "True", "False"])
_STATES = np.array(["ok", "warn", "fault", "idle"])

DEVICES = 250
REGISTERED_SHARE = 0.9
MESSAGES = 60_000
FILES = 10
FILES_PER_TRIGGER = 5
BATCHES = -(-FILES // FILES_PER_TRIGGER)

# message-kind shares (of all messages)
SHARE_MALFORMED = 0.01
SHARE_EVENTS = 0.004
SHARE_OTHER = 0.004


def make_mqtt(seed: int) -> tuple[pa.Table, list[str]]:
    """Return (messages, registered device ids) for one seed."""
    rng = np.random.default_rng([seed, 1])
    devs = np.array([f"dev{i:04d}" for i in range(DEVICES)])
    registered = sorted(
        devs[rng.permutation(DEVICES)[: int(DEVICES * REGISTERED_SHARE)]]
    )
    n = MESSAGES
    # strictly increasing, unique microsecond arrival stamps
    step_us = SPAN_S * 1_000_000 // n
    ts_us = (
        int(BASE_TS.timestamp() * 1_000_000)
        + np.arange(n, dtype=np.int64) * step_us
        + rng.integers(0, step_us, n)
    )
    kind = rng.random(n)
    dev_idx = rng.integers(0, DEVICES, n)
    dev = devs[dev_idx]
    tr_idx = rng.integers(0, len(TRANSDUCERS), n)
    tr_name = np.array([t[0] for t in TRANSDUCERS])[tr_idx]
    tr_kind = np.array([t[1] for t in TRANSDUCERS])[tr_idx]

    topic = np.char.add(np.char.add(np.char.add(DATA_PREFIX, dev), "/"), tr_name)
    # per-device offset keeps series distinguishable; two decimals keep
    # sums exact enough to compare at 1e-6
    base = rng.integers(0, 40, DEVICES)[dev_idx]
    fval = np.round(base + rng.normal(0.0, 5.0, n), 2)
    as_int = rng.random(n) < 0.1
    payload = np.where(
        as_int,
        np.char.mod("%d", np.round(fval).astype(np.int64)),
        np.char.mod("%.2f", fval),
    ).astype(object)
    payload = np.where(tr_kind == "bool", _BOOLS[rng.integers(0, 4, n)], payload)
    payload = np.where(tr_kind == "string", _STATES[rng.integers(0, 4, n)], payload)

    malformed = kind < SHARE_MALFORMED
    bad_forms = np.array([
        DATA_PREFIX + "{d}",            # three segments
        DATA_PREFIX + "{d}/",           # empty transducer
        DATA_PREFIX + "/{t}",           # empty device
        DATA_PREFIX + "{d}/{t}/extra",  # five segments
    ])
    form = bad_forms[rng.integers(0, len(bad_forms), n)]
    for i in np.nonzero(malformed)[0]:
        topic[i] = form[i].format(d=dev[i], t=tr_name[i])
    events = (kind >= SHARE_MALFORMED) & (kind < SHARE_MALFORMED + SHARE_EVENTS)
    other = (kind >= SHARE_MALFORMED + SHARE_EVENTS) & (
        kind < SHARE_MALFORMED + SHARE_EVENTS + SHARE_OTHER
    )
    topic = topic.astype(object)
    topic[events] = EVENTS_TOPIC
    payload[events] = [
        f'{{"action": "update", "thing": {{"id": "{d}"}}}}' for d in dev[events]
    ]
    topic[other] = [f"openchirp/gateway/{d}/heartbeat" for d in dev[other]]

    table = pa.table(
        {
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            "topic": pa.array(topic, type=pa.string()),
            "payload": pa.array(payload, type=pa.string()),
        }
    )
    return table, [str(d) for d in registered]


def write_mqtt(table: pa.Table, out_dir: str) -> None:
    """Split the messages into ``FILES`` Parquet files in arrival
    order. File mtimes are pinned so the file source lists them in a
    fixed order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, FILES + 1).astype(int)
    for i in range(FILES):
        p = os.path.join(out_dir, f"msgs-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        t = 1_700_000_000 + i
        os.utime(p, (t, t))


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "the a fast slow data key value table scan join row query filter window "
    "batch order sort group merge spark hash line small big column stream "
    "part agg customer vector index shard commit offset record schema "
    "token corpus model train eval metric sample label score rank graph node "
    "edge cluster center signal sensor device reading alert rule policy "
    "archive backup restore replica leader follower quorum ledger journal "
    "cache memory disk network packet socket thread lock queue worker task "
    "stage job plan cost budget limit quota region zone host port route"
).split()
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates on data pipelines "
    "and stream processing"
)
PII_EMAIL = "jane.doe@mail.example.org"
PII_PHONE = "+1-555-010-4477"
PII_IP = "192.168.17.201"


DOCS = 200
VECTORS = 200
DIM = 64
LABELS = 10
EXACT_GROUPS = 10       # each source doc gets 1-3 identical copies
NEAR_GROUPS = 10        # each source doc gets 1-2 edited variants
BOILERPLATE_SHARE = 0.4  # 80 of 200 documents: above the shingle df cap of 64
PII_SHARE = 0.04        # per PII kind


def make_corpus(seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """Return (documents, embeddings, plant) for one seed. ``plant``
    records what was planted, for the checks."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_VOCAB)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()

    texts: list[str | None] = [None] * DOCS
    # planted duplicates take the first slots of a permutation; the
    # rest are fresh word soup
    slots = rng.permutation(DOCS)
    pos = 0
    exact_src, near_src = [], []
    sources_needed = EXACT_GROUPS + NEAR_GROUPS
    fresh = [int(s) for s in slots[sources_needed:]]
    srcs = [int(s) for s in slots[:sources_needed]]

    def soup() -> str:
        n = int(rng.integers(30, 110))
        return " ".join(vocab[rng.choice(len(vocab), n, p=weights)])

    for s in srcs:
        texts[s] = soup()
    pool = fresh  # copies overwrite fresh slots
    exact_groups: list[list[int]] = []
    near_pairs: list[tuple[int, int]] = []
    for g, s in enumerate(srcs):
        if g < EXACT_GROUPS:
            k = int(rng.integers(1, 4))
            members = [s] + [pool[pos + j] for j in range(k)]
            pos += k
            for m in members[1:]:
                texts[m] = texts[s]
            exact_groups.append(sorted(members))
        else:
            k = int(rng.integers(1, 3))
            toks = texts[s].split(" ")
            for j in range(k):
                m = pool[pos]
                pos += 1
                edited = list(toks)
                for p in rng.choice(len(edited), max(1, len(edited) // 25), replace=False):
                    edited[int(p)] = str(vocab[int(rng.integers(0, len(vocab)))])
                texts[m] = " ".join(edited)
                near_pairs.append((min(s, m), max(s, m)))
    for m in pool[pos:]:
        texts[m] = soup()

    # boilerplate suffix on a fixed share of documents: its shingles
    # occur in more documents than the shingle df cap
    n_bp = int(DOCS * BOILERPLATE_SHARE)
    for i in rng.choice(DOCS, n_bp, replace=False):
        texts[int(i)] = texts[int(i)] + " " + BOILERPLATE
    # planted PII tokens
    for tok in (PII_EMAIL, PII_PHONE, PII_IP):
        for i in rng.choice(DOCS, int(DOCS * PII_SHARE), replace=False):
            texts[int(i)] = texts[int(i)] + " " + tok
    # decorations above may have hit one copy of a group: re-copy the
    # source so planted exact groups stay exact
    for members in exact_groups:
        for m in members:
            texts[m] = texts[srcs[exact_groups.index(members)]]
    plant_pii = {
        kind: [i for i, t in enumerate(texts) if tok in t.split(" ")]
        for kind, tok in (("email", PII_EMAIL), ("phone", PII_PHONE), ("ip", PII_IP))
    }

    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), DOCS)]),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )

    # embeddings: label clusters around random centres, plus planted
    # near-copies
    centres = rng.normal(0.0, 1.0, (LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, LABELS, VECTORS)
    emb = 0.45 * centres[label] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (VECTORS, DIM))
    n_copy = VECTORS // 20
    src = rng.choice(VECTORS, n_copy, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(VECTORS), src), n_copy, replace=False)
    emb[dst] = emb[src] + rng.normal(0.0, 0.02, (n_copy, DIM))
    label[dst] = label[src]
    emb = emb.astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    plant = {
        "exact_groups": exact_groups,
        "near_pairs": near_pairs,
        "pii": plant_pii,
        "vector_copies": [(int(a), int(b)) for a, b in zip(src, dst)],
    }
    return docs, embeddings, plant


def write_corpus(docs: pa.Table, embeddings: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
