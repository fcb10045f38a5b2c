"""Independent answers for every op the benchmark sends.

Nothing here imports the program: the recall oracle carries its own
copy of the stable hashing spec, the analyze oracle renders the
expected text with ``Counter`` and sorted slices over the generated
model, and the registry check compares a collected Spark frame with
the DuckDB answer of the query's ``oracle_sql()`` twin.

Stable hashing spec: lowercase; tokens ``[a-z0-9_]+``;
``h = (h * 31 + ord(c)) % 1_000_000_007``; bucket ``h % 384``; sign
``+1`` when ``h & 1`` else ``-1``; score ``2 - 2 cos``; ties by id
ascending.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import yaml

_TOKEN = re.compile(r"[a-z0-9_]+")
DIM = 384
TOP_N = 4


def embed(text: str) -> dict[int, int]:
    vec: dict[int, int] = {}
    for tok in _TOKEN.findall(text.lower()):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        b = h % DIM
        vec[b] = vec.get(b, 0) + (1 if h & 1 else -1)
    return vec


class RecallIndex:
    """Brute-force recall over the expected store, one embedding per
    record kept up to date as saves land."""

    def __init__(self, store: list[dict]):
        self.store = store
        self.vecs = [embed(r["body"]) for r in store]

    def update(self, store: list[dict]) -> None:
        for i, r in enumerate(store):
            if i >= len(self.store) or self.store[i] is not r:
                if i < len(self.vecs):
                    self.vecs[i] = embed(r["body"])
                else:
                    self.vecs.append(embed(r["body"]))
        self.store = store

    def expected(self, query: str, k: int, filt: str | None) -> str:
        q = embed(query)
        qnorm = math.sqrt(sum(w * w for w in q.values()))
        cond = parse_filter(filt) if filt is not None else None
        scored = []
        for i, (r, v) in enumerate(zip(self.store, self.vecs)):
            if not r["body"].strip() or (cond is not None and not matches(r, cond)):
                continue
            norm2 = sum(w * w for w in v.values())
            if qnorm <= 1e-8:
                score = 0.0 if norm2 == 0 else 1.0
            elif norm2 == 0:
                score = 1.0
            else:
                dot = sum(w * q.get(b, 0) for b, w in v.items())
                score = 2.0 - 2 * (dot / (math.sqrt(norm2) * qnorm))
            scored.append((score, i))
        k = min(max(k, 1), 100)
        lines = [f"Top {k} results:"]
        for score, i in sorted(scored)[:k]:
            lines.append(f"  [{i}] Score: {score:.4f} |")
            lines.extend(f"      {ln}" for ln in (self.store[i]["body"].splitlines() or [""]))
        return "\n".join(lines) + "\n"


def parse_filter(expr: str) -> dict:
    """The benchmark's filters are one-key flow maps such as
    ``kind: note`` or ``n: {$gte: 10}``."""
    return yaml.safe_load("{" + expr + "}")


def matches(rec: dict, cond: dict) -> bool:
    md = rec["metadata"]
    if not md:
        return False
    for key, c in cond.items():
        if key not in md:
            return False
        v = md[key]
        if isinstance(c, dict):
            op, arg = next(iter(c.items()))
            if op == "$gte":
                ok = v >= arg
            elif op == "$ne":
                ok = (arg not in [str(x) for x in v]) if isinstance(v, list) else str(v) != str(arg)
            elif op == "$contains":
                ok = isinstance(v, list) and str(arg) in [str(x) for x in v]
            else:
                raise ValueError(f"unsupported filter op {op}")
        else:
            ok = (str(c) in [str(x) for x in v]) if isinstance(v, list) else str(v) == str(c)
        if not ok:
            return False
    return True


def render(v) -> str:
    """How the CLI prints one metadata value: lists and maps in YAML
    flow style, everything else with ``str``."""
    if isinstance(v, list):
        return "[" + ", ".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {render(x)}" for k, x in v.items()) + "}"
    return str(v)


def _is_iso_date(s: str) -> bool:
    return bool(re.fullmatch(r"\d{4}-\d{2}-\d{2}", s))


def expected_stats(store: list[dict], filt: str, key: str) -> str:
    cond = parse_filter(filt)
    hit = [(i, r) for i, r in enumerate(store) if matches(r, cond)]
    vals = [(i, r["metadata"][key]) for i, r in hit if r["metadata"].get(key) is not None]
    counts: Counter = Counter()
    first: dict[str, int] = {}
    for i, v in vals:
        s = render(v)
        counts[s] += 1
        first.setdefault(s, i)
    order = sorted(counts, key=lambda s: (-counts[s], first[s]))
    out = [f"Matched: {len(hit)}", f"Key: {key}",
           f"Cardinality (distinct values): {len(order)}", "Cardinality by value:"]
    out += [f"  {s}: {counts[s]}" for s in order[:TOP_N]]
    if len(order) > TOP_N:
        rest = sum(counts[s] for s in order[TOP_N:])
        out.append(f"  other (aggregate of {len(order) - TOP_N} additional values): {rest}")
    raw = [v for _, v in vals]
    if raw and all(isinstance(v, (int, float)) for v in raw):
        nums = [float(v) for v in raw]
        out += ["Range (numeric):", f"  min: {min(nums):g}", f"  max: {max(nums):g}",
                f"  avg: {sum(nums) / len(nums):.2f}"]
    elif raw and all(isinstance(v, str) and _is_iso_date(v) for v in raw):
        out += ["Range (date-like):", f"  start: {min(raw)}", f"  end:   {max(raw)}"]
    return "\n".join(out) + "\n"


def expected_page(store: list[dict], filt: str, fields: list[str], offset: int,
                  limit: int) -> str:
    cond = parse_filter(filt)
    hit = [(i, r) for i, r in enumerate(store) if matches(r, cond)]
    headers = ["ID" if f == "id" else f for f in fields]
    rows = [[str(i) if f == "id" else render(r["metadata"].get(f, "")) for f in fields]
            for i, r in hit[offset:offset + limit]]
    widths = [max([len(h)] + [len(row[c]) for row in rows]) for c, h in enumerate(headers)]
    lines = ["  ".join(h.ljust(widths[c]) for c, h in enumerate(headers))]
    lines += ["  ".join(cell.ljust(widths[c]) for c, cell in enumerate(row)) for row in rows]
    return f"Matched: {len(hit)}\n" + "\n".join(lines) + "\n"


def expected_save(store_before: list[dict], batch: list[dict]) -> str:
    nxt = len(store_before)
    lines = []
    for e in batch:
        if e.get("id") is None:
            lines.append(f"Memorized: '{e['body']}' (ID: {nxt})")
            nxt += 1
        else:
            lines.append(f"Memorized: '{e['body']}' (ID: {e['id']})")
    return "\n".join(lines) + "\n"


def expected_reindex(dropped: int, base: str) -> str:
    lines = [f"Rebuilt index from {base}.yaml", f"Wrote index: {base}.emb"]
    if dropped:
        lines.append(f"Compacted: dropped {dropped} blank/deleted entries")
    return "\n".join(lines) + "\n"


def check_store(yaml_path: str, emb_path: str, store: list[dict]) -> list[str]:
    """Problems with the persisted store: the YAML must hold exactly the
    expected records and the index must record the YAML's sha256."""
    problems = []
    with open(yaml_path, "rb") as f:
        raw = f.read()
    loader = getattr(yaml, "CSafeLoader", yaml.SafeLoader)
    docs = [d for d in yaml.load_all(raw.decode("utf-8"), Loader=loader) if d is not None]
    want = [{"id": i, "metadata": r["metadata"], "body": r["body"]} for i, r in enumerate(store)]
    if docs != want:
        bad = next((i for i, (a, b) in enumerate(zip(docs, want)) if a != b), min(len(docs), len(want)))
        problems.append(f"store YAML differs from the expected records at index {bad} "
                        f"({len(docs)} records, expected {len(want)})")
    try:
        with open(f"{emb_path}/_SOURCE_SHA256") as f:
            recorded = f.read().strip()
    except OSError:
        recorded = None
    if recorded != hashlib.sha256(raw).hexdigest():
        problems.append("index _SOURCE_SHA256 does not match the YAML")
    return problems


def _canon_cell(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, (np.integer, bool, np.bool_)):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    return v


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in rec) for rec in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: repr(tuple(_sort_key(x) for x in r)))


def _sort_key(x):
    if isinstance(x, float):
        return round(x, 6)
    if isinstance(x, tuple):
        return tuple(_sort_key(y) for y in x)
    return x


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_frames(got, want) -> str | None:
    """None when the two pandas frames hold the same rows (order and
    column order ignored); otherwise a one-line description."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got), _rows(want))):
        if not _same(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None
