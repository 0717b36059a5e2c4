"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of a seed and a property dict from
``perfbench/spec.json``: the same seed gives the same bytes. The program
under test only ever sees the files these functions write. Each
generator also returns a ledger -- the exact answer the program must
produce -- and a digest of the bytes it wrote.

Tweets are Avro-binary encoded by this module's own writer, built from
the public Avro 1.x specification (zigzag varint longs, length-prefixed
UTF-8 strings), so the decode check never depends on the program's
encoder.
"""

from __future__ import annotations

import hashlib
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TWEET_TS_BASE = 1_700_000_000          # epoch seconds of the first tweet
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.45, 0.15, 0.15, 0.15, 0.10)
EVENT_TYPES = ("view", "click", "search", "cart", "purchase", "share")
EVENT_TYPE_WEIGHTS = (0.40, 0.25, 0.15, 0.10, 0.06, 0.04)
EMB_DIM = 64
SEPARATORS = (" ", ", ", "! ", " -- ")


# --- Avro binary writer (public spec) ----------------------------------------

def avro_long(n: int) -> bytes:
    """Zigzag varint encoding of a 64-bit signed long."""
    if 0 <= n < 64:
        return bytes((n << 1,))
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def avro_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return avro_long(len(raw)) + raw


def avro_tweet(username: str, text: str, timestamp: int) -> bytes:
    """One ``Tweet`` record (username string, text string, timestamp long)."""
    return avro_string(username) + avro_string(text) + avro_long(timestamp)


def corrupt_payload(valid: bytes, kind: int) -> bytes:
    """A payload no spec-conforming decoder can read as one Tweet:
    0 -- final varint byte cut, so the timestamp is truncated;
    1 -- a trailing byte after the record;
    2 -- a negative string length (zigzag -1)."""
    if kind == 0:
        return valid[:-1]
    if kind == 1:
        return valid + b"\x00"
    return b"\x01\x02\x03\x04"


# --- shared helpers ----------------------------------------------------------

def word(rank: int) -> str:
    """Deterministic lowercase pseudo-word for a vocabulary rank."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    n, out = rank + 26 * 27, []
    while n:
        n, r = divmod(n, 26)
        out.append(letters[r])
    return "".join(reversed(out))


def vocabulary(size: int, with_stopwords: bool = False) -> list[str]:
    words = [word(i) for i in range(size)]
    if with_stopwords:
        words[:len(STOPWORDS)] = STOPWORDS
    return words


def zipf_probs(size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** exponent
    return p / p.sum()


def write_wire_file(path: str, values: list[bytes]) -> int:
    """One Kafka-shaped topic file: a single binary ``value`` column."""
    pq.write_table(pa.table({"value": pa.array(values, type=pa.binary())}), path)
    return os.path.getsize(path)


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --- speed_ingest: standing Avro backlog -------------------------------------

def tweet_backlog(topic_dir: str, seed: int, props: dict) -> dict:
    """Write ``files`` topic files of ``tweets_per_file`` Avro tweets each.

    Returns the ledger: per-word counts over the valid tweets, the number
    of planted corrupt payloads, the total row count, topic bytes and the
    input digest."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(props["vocab_size"])
    probs = zipf_probs(props["vocab_size"], props["zipf_exponent"])
    n = props["files"] * props["tweets_per_file"]
    lens = rng.integers(props["min_words"], props["max_words"] + 1, size=n)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    caps = rng.random(ids.size) < 0.05        # capitalised words
    seps = rng.choice(len(SEPARATORS), size=ids.size, p=[0.85, 0.08, 0.04, 0.03])
    corrupt = rng.random(n) < props["corrupt_share"]
    kinds = rng.integers(0, 3, size=n)
    users = rng.integers(0, 50_000, size=n)
    ts = TWEET_TS_BASE + np.sort(rng.integers(0, 86_400, size=n))

    tweet_of_word = np.repeat(np.arange(n), lens)
    counts = np.bincount(ids[~corrupt[tweet_of_word]], minlength=len(vocab))
    # every (word, separator, capitalised) spelling, indexed by code
    table = np.array([(w.capitalize() if c else w) + s
                      for w in vocab for s in SEPARATORS for c in (0, 1)], dtype=object)
    pieces = table[(ids * len(SEPARATORS) + seps) * 2 + caps]
    starts = np.concatenate([[0], np.cumsum(lens)])
    os.makedirs(topic_dir, exist_ok=True)
    paths, nbytes = [], 0
    per_file = props["tweets_per_file"]
    for f in range(props["files"]):
        values = []
        for i in range(f * per_file, (f + 1) * per_file):
            text = "".join(pieces[starts[i]:starts[i + 1]]).rstrip(" ,!-")
            payload = avro_tweet(f"user{users[i]}", text, int(ts[i]))
            if corrupt[i]:
                payload = corrupt_payload(payload, int(kinds[i]))
            values.append(payload)
        path = os.path.join(topic_dir, f"part-{f:05d}.parquet")
        nbytes += write_wire_file(path, values)
        paths.append(path)
    return {
        "words": {vocab[i]: int(c) for i, c in enumerate(counts) if c},
        "corrupt": int(corrupt.sum()),
        "rows": n,
        "topic_bytes": nbytes,
        "files": len(paths),
        "digest": file_digest(paths),
    }


# --- serve_live: JSON events -------------------------------------------------

class EventStream:
    """Seeded event content for the open-loop generator.

    Content (ids, users, types, values) is a function of the seed; the
    ``ts`` of a live event is its creation time, so only the timestamps
    differ between two runs of one seed. Values carry three decimals, so
    the ledger's decimal sums are exact."""

    def __init__(self, seed: int, props: dict):
        self.rng = np.random.default_rng(seed)
        self.props = props
        self.next_id = 0
        self.digest = hashlib.sha256()
        self.ledger: dict[tuple[int, str], list] = {}

    def batch(self, n: int, ts_us: np.ndarray) -> list[bytes]:
        """``n`` JSON-encoded events with the given creation times (µs)."""
        types = self.rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_WEIGHTS)
        users = self.rng.integers(0, 100_000, size=n)
        milli = self.rng.integers(0, 1_000_000, size=n)     # value in 1/1000
        out = []
        for i in range(n):
            et = EVENT_TYPES[types[i]]
            value = f"{milli[i] // 1000}.{milli[i] % 1000:03d}"
            t = int(ts_us[i])
            rec = (f'{{"event_id":{self.next_id},"ts":"{_iso(t)}",'
                   f'"user_id":{int(users[i])},"event_type":"{et}",'
                   f'"value":{value},"props":"{{}}"}}')
            self.digest.update(f"{self.next_id}|{users[i]}|{et}|{value}\n".encode())
            self.next_id += 1
            cell = self.ledger.setdefault((t // 3_600_000_000 * 3600, et), [0, Decimal(0)])
            cell[0] += 1
            cell[1] += Decimal(value)
            out.append(rec.encode())
        return out


def _iso(ts_us: int) -> str:
    import datetime as dt
    d = dt.datetime.fromtimestamp(ts_us // 1_000_000, tz=dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + f".{ts_us % 1_000_000:06d}Z"


# --- batch_curate: documents + embeddings ------------------------------------

def _shingles(toks: list[str], n: int = 3) -> set:
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def curate_corpus(out_dir: str, seed: int, props: dict) -> dict:
    """``documents.parquet`` and ``embeddings.parquet`` in the fixture's
    schemas, with planted exact and near duplicates.

    Returns the planted near-duplicate document pairs (Jaccard of token
    3-gram sets >= ``near_dup_min_jaccard``), the planted neighbour of
    each IVF query vector, and the input digest."""
    rng = np.random.default_rng(seed)
    n_docs = props["docs"]
    vocab = vocabulary(props["vocab_size"], with_stopwords=True)
    probs = zipf_probs(props["vocab_size"], props["zipf_exponent"])
    lens = rng.integers(props["min_words"], props["max_words"] + 1, size=n_docs)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    role = rng.random(n_docs)
    exact = role < props["exact_dup_rate"]
    near = (~exact) & (role < props["exact_dup_rate"] + props["near_dup_rate"])
    texts: list[list[str]] = []
    near_pairs = []
    pos = 0
    for i in range(n_docs):
        toks = [vocab[w] for w in ids[pos:pos + int(lens[i])]]
        pos += int(lens[i])
        if i > 0 and exact[i]:
            toks = list(texts[int(rng.integers(0, i))])
        elif i > 0 and near[i]:
            src = int(rng.integers(0, i))
            base = texts[src]
            if len(base) >= 30:
                cand = list(base)
                cand[len(cand) // 2] = vocab[int(rng.integers(len(STOPWORDS), len(vocab)))]
                a, b = _shingles(base), _shingles(cand)
                if len(a & b) / len(a | b) >= props["near_dup_min_jaccard"]:
                    toks = cand
                    near_pairs.append((src, i))
        texts.append(toks)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array([" ".join(t) for t in texts]),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n_docs)]),
    })
    docs = docs.append_column("n_chars", pa.array(
        [len(t) for t in docs.column("text").to_pylist()], type=pa.int64()))

    n_vec = props["vectors"]
    centers = rng.standard_normal((props["clusters"], EMB_DIM))
    label = rng.integers(0, props["clusters"], size=n_vec)
    x = rng.standard_normal((n_vec, EMB_DIM)) + props["cluster_strength"] * centers[label]
    dup = rng.random(n_vec) < props["emb_near_dup_rate"]
    for i in np.flatnonzero(dup):
        if i > 0:
            x[i] = x[int(rng.integers(0, i))] + props["emb_near_dup_noise"] * rng.standard_normal(EMB_DIM)
    # each IVF query vector (vec_id < n_queries) gets a planted neighbour
    planted = {}
    for q in range(props["ivf_queries"]):
        j = int(rng.integers(props["ivf_queries"], n_vec))
        x[j] = x[q] + props["emb_near_dup_noise"] * rng.standard_normal(EMB_DIM)
        planted[q] = j
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, "documents.parquet"), os.path.join(out_dir, "embeddings.parquet")]
    pq.write_table(docs, paths[0])
    pq.write_table(emb, paths[1])
    return {"near_pairs": near_pairs, "ivf_planted": planted,
            "docs": n_docs, "vectors": n_vec, "digest": file_digest(paths)}


def ledger_digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]
