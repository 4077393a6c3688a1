"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of ``(seed, size)``: it writes the
input files the program reads and returns the expected output counts the
benchmark checks against. The program under test never sees the seed.

Yelp JSON (``gen_yelp``): three JSON-lines folders shaped like the Yelp
dataset dumps the pipeline ingests. Business popularity is Zipf-skewed,
review text length varies and draws sentiment-lexicon words, and about 1 %
of each folder is malformed lines, null-key rows and in-batch duplicate
ids, so every drop branch of the readers, the ETLs and the writers runs.
Friend and category counts are bounded (at most 3 each), so the unified
grain is known exactly: the generator computes the expected row count of
every output table by replaying the key semantics in Python.

Document corpus (``gen_corpus``): a multi-file parquet corpus with a
realistic vocabulary and stopword mass, an English (``en``) vocabulary
signal the quality classifier can learn, and planted near-duplicate
clusters (a base document plus copies with one appended token).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POSITIVE = ("good", "great", "excellent", "amazing", "love", "best", "delicious", "friendly")
NEGATIVE = ("bad", "terrible", "awful", "worst", "rude", "slow", "dirty", "overpriced")
FILLER = tuple(
    "the food service place staff we ordered table was and it our to a of with "
    "for this time back menu dinner lunch came wait order pizza coffee bar".split()
)
CATEGORIES = tuple(f"Cat{i:02d}" for i in range(30))
STATES = ("AZ", "CA", "FL", "IL", "NV", "PA", "TN", "TX")
WEEKDAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
BOOL_ATTRS = ("BusinessAcceptsCreditCards", "BikeParking", "Caters", "GoodForKids", "HasTV")
MAX_FRIENDS = 3
MAX_CATEGORIES = 3

#: Corpus vocabulary: 24 stems x 50 suffixes plus English stopwords at about
#: 15 % of the mass, the recipe of ``tools/gen_docs_scale.py``.
STEMS = (
    "spark line column order small sort fast value scan query agg table hash "
    "join part batch vector shuffle plan filter merge group window stream"
).split()
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "with", "that", "be", "have")
LANGS = ("en", "de", "fr", "es")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _write_lines(folder: str, lines: list[str], n_files: int, rng: np.random.Generator) -> None:
    os.makedirs(folder, exist_ok=True)
    order = rng.permutation(len(lines))
    for f in range(n_files):
        with open(os.path.join(folder, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines[i] for i in order[f::n_files]))
            fh.write("\n")


def _noisy(records: list[dict], rng: np.random.Generator, dup_frac: float, bad_frac: float) -> list[str]:
    """JSON lines for ``records`` plus exact duplicate lines and truncated
    (malformed) lines. Duplicates and malformed lines are extra lines, so
    they change no expected count."""
    lines = [json.dumps(r) for r in records]
    n = len(lines)
    dups = [lines[i] for i in rng.choice(n, int(n * dup_frac), replace=False)]
    bad = [lines[i][: len(lines[i]) // 2] for i in rng.choice(n, int(n * bad_frac), replace=False)]
    return lines + dups + bad


def _hours(rng: np.random.Generator) -> dict:
    out = {}
    for day in WEEKDAYS:
        if rng.random() < 0.85:
            o, c = int(rng.integers(6, 12)), int(rng.integers(14, 26)) % 24
            out[day] = f"{o}:{int(rng.integers(0, 4)) * 15}-{c}:{int(rng.integers(0, 4)) * 15}"
    return out


def gen_yelp(out_dir: str, seed: int, n_reviews: int, n_files: int = 4) -> dict:
    """Write ``business/``, ``review/`` and ``user/`` JSON-lines folders
    under ``out_dir``; return the expected row counts of the four output
    tables of ``pipeline.run_batch`` plus the input line counts."""
    n_users = max(10, n_reviews // 10)
    n_biz = max(10, n_reviews // 8)
    rng = _rng(seed, 1)

    # business: ~8 % closed, 1 % each null categories / null hours, 0.5 % null id
    biz_rows: dict[str, int] = {}
    businesses = []
    for i in range(n_biz):
        bid = f"b{i:06d}"
        cats = list(rng.choice(CATEGORIES, int(rng.integers(1, MAX_CATEGORIES + 1)), replace=False))
        u = rng.random()
        rec = {
            "business_id": bid if u >= 0.005 else None,
            "name": f"Biz {i}",
            "address": f"{i} Main St",
            "city": f"City{i % 40}",
            "state": STATES[int(rng.integers(0, len(STATES)))],
            "postal_code": f"{10000 + i % 9000}",
            "latitude": float(rng.uniform(25, 48)),
            "longitude": float(rng.uniform(-120, -75)),
            "stars": float(rng.integers(2, 11)) / 2,
            "review_count": int(rng.integers(0, 500)),
            "is_open": int(rng.random() >= 0.08),
            "categories": None if 0.005 <= u < 0.015 else ", ".join(cats),
            "hours": None if 0.015 <= u < 0.025 else _hours(rng),
            "attributes": {
                **{a: str(rng.choice(["True", "False", "None"])) for a in BOOL_ATTRS},
                "NoiseLevel": str(rng.choice(["u'quiet'", "u'average'", "u'loud'"])),
                "WiFi": str(rng.choice(["u'free'", "u'no'"])),
                "RestaurantsPriceRange2": str(int(rng.integers(1, 5))),
            },
        }
        if i % 50 == 0 and rec["business_id"] is not None:
            rec["business_id"] = f"  {bid} "  # untrimmed id, trimmed by the ETL
        businesses.append(rec)
        kept = (
            rec["business_id"] is not None
            and rec["categories"] is not None
            and rec["hours"] is not None
            and rec["is_open"] == 1
        )
        if kept:
            biz_rows[bid] = len(cats)

    # user: friends 0..3 (empty string or null for none), 0.5 % null id.
    # The writer dedups on (user_id, friend), null-safe, so count key sets.
    user_keys: set[tuple] = set()
    user_rows: dict[str, int] = {}
    users = []
    for i in range(n_users):
        uid = f"u{i:07d}" if rng.random() >= 0.005 else None
        k = int(rng.integers(0, MAX_FRIENDS + 1))
        friends = [f"u{j:07d}" for j in rng.choice(n_users, k, replace=False)]
        users.append({
            "user_id": uid,
            "name": f"User {i}",
            "review_count": int(rng.integers(0, 300)),
            "yelping_since": f"{int(rng.integers(2008, 2024))}-{int(rng.integers(1, 13)):02d}-15 10:00:00",
            "useful": int(rng.integers(0, 50)),
            "funny": int(rng.integers(0, 50)),
            "cool": int(rng.integers(0, 50)),
            "fans": int(rng.integers(0, 20)),
            "elite": ",".join(str(y) for y in range(2015, 2015 + int(rng.integers(0, 4)))),
            "friends": ", ".join(friends) if k else ("" if i % 2 else None),
            **{f"compliment_{c}": int(rng.integers(0, 9)) for c in ("hot", "list", "note", "writer", "photos")},
        })
        user_keys.update((uid, f) for f in (friends or [None]))
        if uid is not None:
            user_rows[uid] = max(k, 1)

    # review: Zipf business popularity, lognormal text length, 0.5 % null keys
    pop = rng.zipf(1.3, n_reviews) - 1
    words = np.array(POSITIVE + NEGATIVE + FILLER)
    n_sent = len(POSITIVE) + len(NEGATIVE)
    probs = np.full(len(words), 0.8 / len(FILLER))
    probs[:n_sent] = 0.2 / n_sent
    lens = np.clip(rng.lognormal(3.3, 0.7, n_reviews), 3, 300).astype(int)
    toks = rng.choice(words, int(lens.sum()), p=probs)
    reviews = []
    expected_unified = 0
    pos = 0
    for i in range(n_reviews):
        u = rng.random()
        uid = f"u{int(rng.integers(0, n_users + n_users // 100)):07d}" if u >= 0.005 else None
        bid = f"b{int(pop[i]) % n_biz:06d}" if not 0.005 <= u < 0.01 else None
        text = " ".join(toks[pos : pos + lens[i]])
        pos += lens[i]
        reviews.append({
            "review_id": f"r{i:08d}",
            "user_id": uid,
            "business_id": bid,
            "stars": float(rng.integers(1, 6)),
            "useful": int(rng.integers(0, 10)),
            "funny": int(rng.integers(0, 5)),
            "cool": int(rng.integers(0, 5)),
            "text": text.capitalize() + ".",
            "date": f"{int(rng.integers(2012, 2024))}-{int(rng.integers(1, 13)):02d}-"
            f"{int(rng.integers(1, 29)):02d} {int(rng.integers(0, 24)):02d}:30:00",
        })
        if uid is not None and bid is not None:
            expected_unified += user_rows.get(uid, 1) * biz_rows.get(bid, 1)
    n_review_out = sum(1 for r in reviews if r["user_id"] is not None and r["business_id"] is not None)

    lines = {}
    for name, recs, stream in (("business", businesses, 2), ("user", users, 3), ("review", reviews, 4)):
        r = _rng(seed, stream)
        lines[name] = _noisy(recs, r, dup_frac=0.005, bad_frac=0.01)
        _write_lines(os.path.join(out_dir, name), lines[name], n_files, r)
    return {
        "review": n_review_out,
        "business": sum(biz_rows.values()),
        "user": len(user_keys),
        "unified": expected_unified,
        "lines": {k: len(v) for k, v in lines.items()},
    }


def gen_corpus(out_dir: str, seed: int, n_docs: int, n_files: int = 8) -> dict:
    """Write ``docs/part-*.parquet`` under ``out_dir``; return the doc count
    and the planted near-duplicate pairs ``[(base_id, copy_id), ...]``."""
    rng = _rng(seed, 5)
    vocab = np.array([f"{s}{i}" for s in STEMS for i in range(50)])
    en_vocab = vocab[: len(vocab) // 4]  # the en class leans on a quarter of the stems
    stop = np.array(STOPWORDS)
    n_base = n_docs - n_docs // 10  # ~10 % of the docs are planted copies
    texts, langs = [], []
    for _ in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))] if rng.random() >= 0.45 else "en"
        n = int(rng.integers(12, 70))
        src = en_vocab if lang == "en" else vocab
        toks = np.where(rng.random(n) < 0.15, rng.choice(stop, n), rng.choice(src, n))
        if rng.random() < 0.8:  # sentences of 6-9 words, one per line
            lines, i = [], 0
            while i < n:
                k = int(rng.integers(6, 10))
                lines.append(" ".join(toks[i : i + k]) + ".")
                i += k
            texts.append("\n".join(lines))
        else:  # run-on junk without terminal punctuation
            texts.append(" ".join(toks))
        langs.append(lang)
    pairs = []
    bases = rng.choice(n_base, n_docs - n_base, replace=True)
    for j, b in enumerate(bases):
        texts.append(f"{texts[b]} extra{j}")
        langs.append(langs[b])
        pairs.append((int(b), n_base + j))
    # shuffle ids so copies are not adjacent to their base
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs, dtype=np.int64)
    pairs = [(int(ids[a]), int(ids[b])) for a, b in pairs]
    doc_dir = os.path.join(out_dir, "docs")
    os.makedirs(doc_dir, exist_ok=True)
    order = np.argsort(ids)
    texts_a, langs_a = np.array(texts, dtype=object)[order], np.array(langs)[order]
    for f in range(n_files):
        sl = slice(f, n_docs, n_files)
        pq.write_table(
            pa.table({
                "doc_id": np.arange(n_docs, dtype=np.int64)[sl],
                "text": texts_a[sl].tolist(),
                "lang": langs_a[sl].tolist(),
            }),
            os.path.join(doc_dir, f"part-{f:05d}.parquet"),
        )
    return {"docs": n_docs, "pairs": pairs}
