"""Seeded input generator for the benchmark.

Everything the program under test sees is produced here from one
integer seed: memo records (written as save-batch YAML files that the
CLI ingests), save cycles for the ingest workload, and the registry
``documents``/``embeddings`` tables for the ANN workload. The same seed
always yields the same inputs; the seed also picks the shape knobs
(Zipf exponent, body-length spread, tombstone share, near-duplicate
share, cluster count) so that different seeds exercise different data.
"""

from __future__ import annotations

import bisect
import itertools
import math
import random

import yaml

KINDS = ["note", "task", "idea", "log", "ref", "todo", "meta", "misc"]
TAGS = ["red", "green", "blue", "alpha", "beta", "gamma", "delta", "omega",
        "north", "south", "east", "west"]
SOURCES = ["cli", "web", "mail", "chat", "import"]
MEAN_WORDS = 20
_SYL = ["ka", "lo", "mi", "nu", "ri", "sa", "te", "vo", "zi", "pe", "du", "ga",
        "ho", "ju", "ny", "qu", "we", "xo", "ya", "be"]


class Shape:
    """The seed-chosen knobs of one generated input set."""

    def __init__(self, seed: int):
        r = random.Random(seed * 7919 + 17)
        self.zipf_s = round(r.uniform(0.9, 1.3), 3)
        self.vocab = r.choice([1500, 2500, 4000])
        # body lengths are lognormal with a seed-chosen spread around
        # one fixed mean, so every seed asks for about the same work
        self.len_sigma = round(r.uniform(0.3, 0.8), 3)
        self.len_mu = round(math.log(MEAN_WORDS) - self.len_sigma ** 2 / 2, 4)
        self.tombstone_share = round(r.uniform(0.1, 0.3), 3)
        self.dup_share = round(r.uniform(0.15, 0.25), 3)
        self.clusters = r.choice([8, 12, 16, 24])


class Corpus:
    """Zipf-distributed vocabulary sampler."""

    def __init__(self, shape: Shape):
        words = []
        for n in itertools.count(1):
            for combo in itertools.product(_SYL, repeat=n):
                words.append("".join(combo))
                if len(words) >= shape.vocab:
                    break
            if len(words) >= shape.vocab:
                break
        self.words = words
        weights = [1.0 / (i + 1) ** shape.zipf_s for i in range(len(words))]
        total = sum(weights)
        acc, cum = 0.0, []
        for w in weights:
            acc += w / total
            cum.append(acc)
        self.cum = cum
        self.shape = shape

    def word(self, r: random.Random) -> str:
        i = bisect.bisect_left(self.cum, r.random())
        return self.words[min(i, len(self.words) - 1)]

    def body(self, r: random.Random) -> str:
        n = int(math.exp(r.gauss(self.shape.len_mu, self.shape.len_sigma)))
        n = max(3, min(n, 120))
        return " ".join(self.word(r) for _ in range(n))


def metadata(r: random.Random) -> dict:
    """One record's metadata: int, float, bool, ISO-date string, list,
    nested map and a Zipf-skewed categorical string."""
    kind = KINDS[min(int(r.paretovariate(1.2)) - 1, len(KINDS) - 1)]
    return {
        "kind": kind,
        "n": r.randrange(0, 500),
        "score": round(r.uniform(0, 100), 3),
        "flag": r.random() < 0.3,
        "day": f"2024-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}",
        "tags": r.sample(TAGS, r.randrange(1, 4)),
        "info": {"src": r.choice(SOURCES), "rank": r.randrange(0, 10)},
    }


def records(seed: int, n: int) -> list[dict]:
    """``n`` records as save entries (body + metadata), ids 0..n-1 in order."""
    shape = Shape(seed)
    corpus = Corpus(shape)
    r = random.Random(seed)
    return [{"metadata": metadata(r), "body": corpus.body(r)} for _ in range(n)]


def save_yaml(entries: list[dict]) -> str:
    """A save-batch file: one YAML list of entries."""
    return yaml.safe_dump(entries, sort_keys=False, allow_unicode=True)


def save_cycles(seed: int, start: list[dict], cycles: int, per_cycle: int = 25,
                overwrites: int = 5) -> list[list[dict]]:
    """Save batches for the ingest workload: each batch holds
    ``per_cycle - overwrites`` appends and ``overwrites`` overwrites of
    existing non-blank ids; a seed-chosen share of the overwrites are
    tombstones (``metadata.deleted: true``). Overwrite targets never
    repeat, so every target is still a live, non-blank record."""
    shape = Shape(seed)
    corpus = Corpus(shape)
    r = random.Random(seed * 31 + 5)
    live = len(start)
    targets = r.sample(range(live), min(live, cycles * overwrites))
    out = []
    for c in range(cycles):
        batch = [{"metadata": metadata(r), "body": corpus.body(r)}
                 for _ in range(per_cycle - overwrites)]
        for t in targets[c * overwrites:(c + 1) * overwrites]:
            md = metadata(r)
            if r.random() < shape.tombstone_share:
                md["deleted"] = True
            batch.append({"id": t, "metadata": md, "body": corpus.body(r)})
        out.append(batch)
    return out


def apply_save(store: list[dict], batch: list[dict]) -> list[dict]:
    """Expected store after one save: overwrites in place, appends get
    the next dense ids in batch order."""
    out = list(store)
    for e in batch:
        if e.get("id") is None:
            out.append({"metadata": e["metadata"], "body": e["body"]})
        else:
            out[e["id"]] = {"metadata": e["metadata"], "body": e["body"]}
    return out


def apply_reindex(store: list[dict]) -> list[dict]:
    """Expected store after reindex: blank bodies and truthy
    ``metadata.deleted`` records dropped, ids re-sequenced."""
    return [s for s in store if s["body"].strip() and not s["metadata"].get("deleted")]


FIELD_SETS = ["id,kind,n", "id,day,tags", "id,n,kind,day"]
STATS_KEYS = ["n", "kind", "day", "tags"]


def recall_op(r: random.Random, corpus: Corpus, k: int, filtered: bool) -> tuple:
    query = " ".join(corpus.word(r) for _ in range(r.randrange(2, 6)))
    filt = None
    if filtered:
        filt = r.choice([f"kind: {r.choice(KINDS[:4])}",
                         f"n: {{$gte: {r.randrange(100, 400)}}}",
                         f"tags: {{$contains: {r.choice(TAGS)}}}"])
    return ("recall", query, k, filt)


def _analyze_filter(r: random.Random) -> str:
    return r.choice(["kind: {$ne: zzz}", f"n: {{$gte: {r.randrange(0, 250)}}}",
                     f"tags: {{$contains: {r.choice(TAGS)}}}"])


def stats_op(r: random.Random, key: str) -> tuple:
    return ("stats", _analyze_filter(r), key)


def page_op(r: random.Random, fields: str, n_records: int) -> tuple:
    return ("fields", _analyze_filter(r), fields, r.randrange(0, n_records // 2),
            r.choice([10, 25, 50]))


def ingest_reads(seed: int, n: int, n_records: int) -> list[list[tuple]]:
    """The reads that follow each save: two recalls (the second with a
    filter) and two analyzes (one ``--stats``, one ``--fields`` page).
    The seed picks queries, filter values and page offsets; k, the
    stats key and the field set rotate with the cycle number, so runs
    of different seeds send the same mix of op kinds."""
    corpus = Corpus(Shape(seed))
    r = random.Random(seed * 103 + 7)
    ks = [10, 2, 50]
    return [[recall_op(r, corpus, ks[i % 3], False), recall_op(r, corpus, ks[(i + 1) % 3], True),
             stats_op(r, STATS_KEYS[i % len(STATS_KEYS)]),
             page_op(r, FIELD_SETS[i % len(FIELD_SETS)], n_records)]
            for i in range(n)]


def documents(seed: int, n: int = 5000) -> list[tuple]:
    """Registry ``documents`` rows (doc_id, text, lang, source, n_chars)
    with a seed-chosen near-duplicate share: a near-duplicate copies an
    earlier text and replaces one word."""
    shape = Shape(seed)
    corpus = Corpus(shape)
    r = random.Random(seed * 13 + 1)
    rows, texts = [], []
    for i in range(n):
        if texts and r.random() < shape.dup_share:
            words = r.choice(texts).split(" ")
            words[r.randrange(len(words))] = corpus.word(r)
            text = " ".join(words)
        else:
            text = corpus.body(r)
        texts.append(text)
        rows.append((i, text, r.choice(["en", "en", "de", "fr", "es", "zh"]),
                     f"src{r.randrange(20)}", len(text)))
    return rows


def embeddings(seed: int, n: int = 2000, dim: int = 64) -> list[tuple]:
    """Registry ``embeddings`` rows (vec_id, embedding, label) drawn
    around a seed-chosen number of cluster centres; label is the centre."""
    shape = Shape(seed)
    r = random.Random(seed * 17 + 2)
    centres = [[r.gauss(0, 0.15) for _ in range(dim)] for _ in range(shape.clusters)]
    rows = []
    for i in range(n):
        c = r.randrange(len(centres))
        rows.append((i, [round(x + r.gauss(0, 0.04), 6) for x in centres[c]], c))
    return rows
