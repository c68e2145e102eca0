"""Seeded benchmark inputs: a CDC change log, a document corpus and its
vectors, and the change batches that later epochs feed the engine.

Everything is stdlib ``random`` + pyarrow, a pure function of the seed.
The engine under test never generates its own benchmark inputs, so input
generation costs the same on every version of the engine and a change to
``cdc.testing.gen`` cannot move the benchmark's inputs.

The change log follows the fixture semantics of ``cdc.testing.gen``:
lsn-ordered events with ~3% lsn gaps, ~2% verbatim duplicate deliveries,
5 hot repos owning 60% of the keys, ~10% of keys ending in a delete (~1%
of those resurrected by a trailing update), and schema versions 1 -> 2 -> 3
over the lsn axis (v2 adds ``size_bytes int, score float``; v3 widens them
to ``bigint, double``). It is written in ``write_change_log``'s layout:
``<dir>/v=<n>/*.parquet``, lsn-sorted, one directory per producer batch.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "scala", "sql", "md", "toml"]
EXTS = {"python": "py", "java": "java", "scala": "scala", "sql": "sql",
        "md": "md", "toml": "toml"}
N_REPOS, N_HOT_REPOS = 50, 5
BATCH_EVENTS = 1000            # producer batch = lsn // 1000, as in the gen
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)

ORACLE_COLS = ["lsn", "batch_id", "op", "repo", "path", "commit", "lang",
               "content"]


def _hex(*parts) -> str:
    return hashlib.sha256(":".join(map(str, parts)).encode()).hexdigest()


def change_events(seed: int, n_keys: int, mean_events_per_key: int = 10
                  ) -> list[dict]:
    """The change log as a list of event dicts in lsn order (duplicate
    deliveries included, right after their original)."""
    rng = random.Random(seed)
    draws = []                       # (order key, key id, version, n_live, dies)
    keys = []
    for k in range(n_keys):
        hot = k < int(n_keys * 0.6)
        repo_id = (rng.randrange(N_HOT_REPOS) if hot
                   else N_HOT_REPOS + rng.randrange(N_REPOS - N_HOT_REPOS))
        lang = rng.choice(LANGS)
        h = _hex(seed, "key", k)
        keys.append((f"repo_{repo_id:04d}",
                     f"src/{h[:6]}/{h[6:14]}_{k}.{EXTS[lang]}", lang))
        m = 1 + rng.randrange(2 * mean_events_per_key - 1)
        dies = rng.random() < 0.1
        resurrect = dies and rng.random() < 0.1
        for v, r in enumerate(sorted(rng.random()
                                     for _ in range(m + resurrect))):
            draws.append((r, k, v, m, dies))
    draws.sort()
    n_est = n_keys * mean_events_per_key
    events, lsn = [], 0
    for r, k, v, m, dies in draws:
        lsn += 1 + (1 + rng.randrange(3) if rng.random() < 0.03 else 0)
        repo, path, lang = keys[k]
        op = "I" if v == 0 else ("D" if dies and v == m - 1 else "U")
        if op == "U" and rng.random() < 0.005:
            lang = rng.choice(LANGS)            # rename-style churn
        base = _hex(seed, repo, path, v)
        content = None if op == "D" else "\n".join(
            f"line {j}: {base[(j * 17) % 40:(j * 17) % 40 + 24]}"
            for j in range(2 + int(base[:4], 16) % 30))
        ev = {
            "lsn": lsn,
            "ts": T0 + timedelta(milliseconds=100 * lsn
                                 + rng.randrange(-5000, 5000)),
            "op": op, "repo": repo, "path": path, "commit": base[:40],
            "lang": lang, "content": content,
            "schema_version": (1 if lsn < 0.4 * n_est
                               else 2 if lsn < 0.7 * n_est else 3),
            "batch_id": lsn // BATCH_EVENTS,
            "size_bytes": None if content is None else len(content),
            "score": rng.randrange(100_000) / 1000.0,
        }
        events.append(ev)
        if rng.random() < 0.02:                 # at-least-once re-delivery
            events.append(dict(ev))
    return events


_V_TYPES = {
    1: [],
    2: [("size_bytes", pa.int32()), ("score", pa.float32())],
    3: [("size_bytes", pa.int64()), ("score", pa.float64())],
}
_BASE = [("lsn", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
         ("op", pa.string()), ("repo", pa.string()), ("path", pa.string()),
         ("commit", pa.string()), ("lang", pa.string()),
         ("content", pa.string()), ("schema_version", pa.int32()),
         ("batch_id", pa.int64())]


def write_log(events: list[dict], out_dir: str,
              events_per_file: int = 2000) -> None:
    """Write events (lsn-sorted) in the per-schema-version Parquet layout
    ``cdc.io.log.read_log`` reads; v1 files physically lack the v2
    columns and v2 stores them narrow."""
    for v, extra in _V_TYPES.items():
        rows = [e for e in events if e["schema_version"] == v]
        if not rows:
            continue
        schema = pa.schema(_BASE + extra)
        d = os.path.join(out_dir, f"v={v}")
        os.makedirs(d, exist_ok=True)
        for i in range(0, len(rows), events_per_file):
            chunk = rows[i:i + events_per_file]
            cols = {name: [e[name] for e in chunk] for name in schema.names}
            pq.write_table(pa.table(cols, schema=schema),
                           os.path.join(d, f"part-{i // events_per_file:05d}"
                                           ".parquet"))


def split_batches(events: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for e in events:
        out.setdefault(e["batch_id"], []).append(e)
    return out


# -- documents and vectors ------------------------------------------------------

VOCAB = 2000
DOC_WORDS = 40
DIM = 64                        # IvfIndex.train_on's default training dim


class Corpus:
    """A seeded document corpus with ~2% near-duplicate pairs, its
    per-document vectors, and generators for insert and update/delete
    epochs. ``docs``/``vecs`` always hold the CURRENT live corpus."""

    def __init__(self, seed: int, n_docs: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.docs: dict[int, str] = {}
        self.vecs: dict[int, list[float]] = {}
        for _ in range(n_docs):
            self._add(self._text())
        for i in self.rng.sample(sorted(self.docs), n_docs // 50):
            self._add(self._near(self.docs[i]), like=i)

    def _text(self) -> str:
        return " ".join(f"w{self.rng.randrange(VOCAB):04d}"
                        for _ in range(DOC_WORDS))

    def _near(self, text: str) -> str:
        """A near-duplicate: the same text with its last word replaced."""
        words = text.split()
        words[-1] = f"w{self.rng.randrange(VOCAB):04d}"
        return " ".join(words)

    def _vec(self, like: int | None = None) -> list[float]:
        if like is not None:
            return [x + self.rng.gauss(0, 0.01) for x in self.vecs[like]]
        v = [self.rng.gauss(0, 1) for _ in range(DIM)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def _add(self, text: str, like: int | None = None) -> int:
        i = self.next_id
        self.next_id += 1
        self.docs[i], self.vecs[i] = text, self._vec(like)
        return i

    def insert_batch(self, n: int) -> list[int]:
        """``n`` new docs, a third of them near-duplicates of live docs."""
        live = sorted(self.docs)
        ids = [self._add(self._near(self.docs[j]), like=j)
               for j in self.rng.sample(live, n // 3)]
        return ids + [self._add(self._text()) for _ in range(n - n // 3)]

    def change_batch(self, frac: float, pool: list[int]):
        """``frac`` of the live corpus as updates and as many deletes,
        picked from ``pool``, as (doc changes, vector changes) with
        pre/post images. Half of the updates turn a doc into a
        near-duplicate of another live doc (joins a group); the rest
        rewrite it (may leave one)."""
        live = sorted(self.docs)
        k = max(1, int(len(live) * frac))
        picked = self.rng.sample(pool, 2 * k)
        doc_rows, vec_rows = [], []
        for n, i in enumerate(picked[:k]):
            if n % 2 == 0:
                j = self.rng.choice(live)
                text, vec = self._near(self.docs[j]), self._vec(like=j)
            else:
                text, vec = self._text(), self._vec()
            doc_rows.append((i, "U", text, self.docs[i]))
            vec_rows.append((i, "U", vec, self.vecs[i]))
            self.docs[i], self.vecs[i] = text, vec
        for i in picked[k:]:
            doc_rows.append((i, "D", None, self.docs.pop(i)))
            vec_rows.append((i, "D", None, self.vecs.pop(i)))
        return doc_rows, vec_rows
