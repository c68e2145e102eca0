"""The two workloads, each a closed loop with one caller, and their
correctness gates.

Every workload runs a fixed number of rounds of three timed operation
slots (``CDC_ROUNDS``, ``STANDING_ROUNDS``) after an untimed set-up
that ends in a warm-up (on ``cdc_tail`` one round, on
``standing_epochs`` one update/delete epoch). The count never depends on
elapsed time, so every run measures the same operations whatever the
speed of the host or of the engine:

==============  ==============================  ==============================
slot            cdc_tail                        standing_epochs
==============  ==============================  ==============================
``commit``      CoW ``apply_batch`` of one      insert epoch:
                producer batch                  ``ingest_dedup_batch``
``delta``       MOR ``apply_batch`` of the      update/delete epoch:
                next batch, same table          ``apply_doc_changes`` +
                                                ``IvfIndex.ingest_changes``
``read``        after each commit:              ``STANDING_READS`` times:
                ``lookup_keys`` on a fixed      ``lookup_keys`` of random
                probe set + checksum ``read``   probe docs on the groups table
==============  ==============================  ==============================

Correctness checks run outside the timed operations; a mismatch counts
as a failed operation.
"""

from __future__ import annotations

import array
import functools
import hashlib
import math
import os
import random
import sys
import time
import zlib
from collections import defaultdict

import pandas as pd

import inputs

N_PARTITIONS = 8


class Run:
    """Timed-operation bookkeeping for one workload run."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 t_process: float):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.t_process = seed, seconds, t_process
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.setup_s: float | None = None
        self.t_measure = 0.0
        self.events = 0
        self.write_s = 0.0
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def note(self, what: str) -> None:
        print(f"perfbench: {time.monotonic() - self.t_process:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def timed_rounds(self, rounds) -> None:
        """End set-up, then run every one of the ``rounds`` callables."""
        self.t_measure = time.monotonic()
        self.setup_s = self.t_measure - self.t_process
        for i, round_ in enumerate(rounds):
            round_()
            self.note(f"round {i + 1}")
        window = time.monotonic() - self.t_measure
        if window > 1.5 * self.seconds:
            self.note(f"timed rounds took {window:.1f}s, "
                      f"--seconds is {self.seconds:g}")

    def op(self, slot: str, fn, events: int = 0, **attrs):
        """Run one operation; once measuring, time it in its own span.
        ``events`` is the number of change records it applies."""
        if self.setup_s is None:            # set-up and warm-up
            return fn()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{slot}", events=events, **attrs):
                out = fn()
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{slot}: {type(e).__name__}: {e}"[:500])
            raise
        dt = time.perf_counter() - t0
        self.note(f"{slot} {dt:.3f}s")
        self.samples[slot].append(dt)
        if events:
            self.events += events
            self.write_s += dt
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")


def _held(run: Run, name: str, fn, **attrs):
    """Run ``fn`` inside a span named after the layer it materialises, so
    the jobs of a lazy read count against that layer."""
    with run.tracer.span(name) as s:
        out = fn()
    if s is not None:
        s.attrs.update({k: v(out) for k, v in attrs.items()})
    return out


# -- cdc_tail ----------------------------------------------------------------------

CDC_KEYS = 1500                 # ~15k events, ~15 producer batches
CDC_WARMUP_ROUNDS = 1
CDC_ROUNDS = 2                  # timed; each a CoW then a MOR commit
CDC_TAIL_BATCHES = 2 * (CDC_WARMUP_ROUNDS + CDC_ROUNDS)
N_PROBES = 20


class OracleFold:
    """``cdc.testing.oracle.expected_state`` semantics, folded batch by
    batch so per-commit checks cost O(batch)."""

    def __init__(self):
        self.state: dict[tuple, str] = {}          # key -> content sha256
        self.seen: set[tuple] = set()

    def apply(self, events: list[dict]) -> None:
        for e in sorted(events, key=lambda e: (e["lsn"], e["batch_id"])):
            if (e["batch_id"], e["lsn"]) in self.seen:
                continue
            self.seen.add((e["batch_id"], e["lsn"]))
            key = (e["repo"], e["path"])
            if e["op"] == "D":
                self.state.pop(key, None)
            else:
                self.state[key] = hashlib.sha256(
                    e["content"].encode()).hexdigest()

    def rows(self, keys=None) -> set[tuple]:
        items = (self.state.items() if keys is None else
                 ((k, self.state[k]) for k in keys if k in self.state))
        return {(r, p, h) for (r, p), h in items}

    def checksum(self) -> tuple[int, int]:
        return len(self.state), sum(
            zlib.crc32(f"{r}|{p}|{h}".encode())
            for (r, p), h in self.state.items())


def _state_rows(spark, table) -> list[tuple]:
    from pyspark.sql import functions as F
    df = table.read(spark)
    return [tuple(r) for r in df.select(
        "repo", "path", F.sha2("content", 256)).collect()]


def _oracle_rows(events: list[dict]) -> set[tuple]:
    from cdc.testing.oracle import expected_state
    exp = expected_state(pd.DataFrame(events, columns=inputs.ORACLE_COLS))
    return set(map(tuple, exp[["repo", "path", "content_sha256"]].values))


def _checksum(spark, table):
    """Order-independent checksum aggregate over the table: returns the
    (row count, crc32 sum of repo|path|content sha256) the oracle can
    recompute; the xxhash64 sum over every column makes the scan read
    every column."""
    from pyspark.sql import functions as F
    df = table.read(spark)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.crc32(F.concat_ws("|", "repo", "path",
                                  F.sha2("content", 256)))),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31)))).first()
    return int(row[0]), int(row[1] or 0)


def cdc_tail(run: Run) -> None:
    from pyspark.sql import functions as F
    from cdc import pipeline
    from cdc.io.log import read_log
    from cdc.schema.registry import default_registry
    from cdc.table import maintenance
    from cdc.table.table import CdcTable

    spark, work = run.spark, run.work
    events = inputs.change_events(run.seed, CDC_KEYS)
    batches = inputs.split_batches(events)
    ids = sorted(batches)[:-1]          # the last producer batch is partial
    head_ids, tail_ids = ids[:-CDC_TAIL_BATCHES], ids[-CDC_TAIL_BATCHES:]
    head = [e for b in head_ids for e in batches[b]]
    inputs.write_log(head, os.path.join(work, "head"))
    for b in tail_ids:
        inputs.write_log(batches[b], os.path.join(work, "tail", str(b)))
    rng = random.Random(run.seed)
    probes = sorted(rng.sample(sorted({(e["repo"], e["path"]) for b in
                                       tail_ids for e in batches[b]}),
                               N_PROBES))
    probe_df = spark.createDataFrame(probes, "repo string, path string")
    reg = default_registry()
    run.note("inputs written")

    table = CdcTable(os.path.join(work, "table"), n_partitions=N_PARTITIONS,
                     layout="key_hash")
    pipeline.replay(spark, os.path.join(work, "head"), table,
                    batches_per_commit=None)
    fold = OracleFold()
    fold.apply(head)
    got = _state_rows(spark, table)
    want = _oracle_rows(head)
    run.check(set(got) == want == fold.rows() and len(got) == len(want),
              "backfill state != oracle")
    run.note("head backfilled and checked")

    done = []

    def commit(b: int, slot: str, mode: str) -> None:
        frame = read_log(spark, os.path.join(work, "tail", str(b)), reg)
        run.op(slot, lambda: pipeline.apply_batch(
            spark, table, frame, f"tail-{b}", mode=mode),
            events=len(batches[b]))
        fold.apply(batches[b])
        done.append(b)

    def read():
        rows = _held(run, "table.lookup_keys", lambda: [
            (r["repo"], r["path"], r["h"]) for r in
            table.lookup_keys(spark, probe_df).select(
                "repo", "path", F.sha2("content", 256).alias("h"))
            .collect()], rows=len)
        return rows, _held(run, "table.read", lambda: _checksum(spark, table))

    def round_(b_cow: int, b_mor: int, warm_up: bool = False) -> None:
        for b, slot, mode in ((b_cow, "commit", "cow"),
                              (b_mor, "delta", "mor")):
            commit(b, slot, mode)
            if warm_up and mode == "cow":   # the MOR read warms reads
                continue
            rows, cs = run.op("read", read)
            want = fold.rows(probes)
            run.check(set(rows) == want and len(rows) == len(want),
                      f"lookup_keys after batch {b} != oracle")
            run.check(cs == fold.checksum(), f"checksum after batch {b}")

    pairs = list(zip(tail_ids[0::2], tail_ids[1::2]))
    for b_cow, b_mor in pairs[:CDC_WARMUP_ROUNDS]:
        round_(b_cow, b_mor, warm_up=True)
    run.note("warm-up round")
    run.timed_rounds(lambda p=p: round_(*p)
                     for p in pairs[CDC_WARMUP_ROUNDS:])
    run.check(len(done) == CDC_TAIL_BATCHES, "tail batches applied")
    # fold the last round's delta layer (traced, not an end-to-end slot)
    with run.tracer.span("op.compact"):
        maintenance.compact(spark, table, max_files_per_partition=1)
    applied = head + [e for b in done for e in batches[b]]
    got = _state_rows(spark, table)
    want = _oracle_rows(applied)
    run.check(set(got) == want and len(got) == len(want),
              "final state != oracle")


# -- standing_epochs ---------------------------------------------------------------

N_DOCS = 200
INSERT_DOCS = 100
CHANGE_FRAC = 0.01
N_DOC_PROBES = 20
STANDING_ROUNDS = 1
STANDING_READS = 5              # lookups per round: one is ~1 s, and noisy


def _expected_groups(docs: dict[int, str]) -> set[tuple]:
    """From-scratch near-duplicate grouping of ``docs`` in plain Python,
    with ``cdc.lsh``'s semantics: distinct word 3-gram shingles ->
    N_MINHASH md5 minhashes -> LSH_BANDS band buckets -> docs sharing a
    bucket are pairs -> connected components labelled by their smallest
    id, as (doc_id, grp) rows for docs in some pair."""
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for i, text in docs.items():
        for band in _band_keys(text):
            buckets[band].append(i)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for members in buckets.values():
        for m in members[1:]:
            a, b = find(members[0]), find(m)
            parent[max(a, b)] = min(a, b)
    return {(i, find(i)) for i in parent}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


@functools.lru_cache(maxsize=None)
def _band_keys(text: str) -> tuple:
    """The (band, bucket) keys of one doc text; empty when it has no
    shingle."""
    from cdc.lsh import LSH_BANDS, N_MINHASH
    words = text.strip().split(" ")
    sh = {" ".join(words[j:j + 3]) for j in range(len(words) - 2)}
    if not sh:
        return ()
    mh = [min(_md5(f"{k}:{x}") for x in sh) for k in range(N_MINHASH)]
    r = N_MINHASH // LSH_BANDS
    return tuple((b, _md5("".join(mh[b * r:(b + 1) * r])))
                 for b in range(LSH_BANDS))


def _expected_assignment(vecs: dict[int, list[float]],
                         centroids: list[tuple]) -> set[tuple]:
    """Nearest centroid by cosine (ties to the lowest id), with
    ``cdc.vectors``' sequential-fold dot products over float32 inputs."""
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc
    cents = [(cid, c, math.sqrt(dot(c, c))) for cid, c in centroids]
    out = set()
    for i, v in vecs.items():
        v = array.array("f", v).tolist()
        nv = math.sqrt(dot(v, v))
        best = max(cents, key=lambda c: (dot(v, c[1]) / (nv * c[2]), -c[0]))
        out.add((i, best[0]))
    return out


def _grouped(rows: set[tuple]) -> set[tuple]:
    """Drop single-member groups: insert epochs store only docs that have
    a near-duplicate, while update epochs keep relabelled singletons."""
    size: dict = defaultdict(int)
    for _, g in rows:
        size[g] += 1
    return {(i, g) for i, g in rows if size[g] > 1}


def standing_epochs(run: Run) -> None:
    from cdc.ann import IvfIndex
    from cdc.stream import dedup

    spark, work = run.spark, run.work
    corpus = inputs.Corpus(run.seed, N_DOCS)
    rng = random.Random(run.seed)

    def docs_df(ids):
        return spark.createDataFrame([(i, corpus.docs[i]) for i in ids],
                                     "doc_id long, text string")

    def vecs_df(ids):
        return spark.createDataFrame([(i, corpus.vecs[i]) for i in ids],
                                     "vec_id long, embedding array<float>")

    bands, groups = dedup.dedup_tables(os.path.join(work, "bands"),
                                       os.path.join(work, "groups"))
    ivf = IvfIndex(os.path.join(work, "ivf"))
    live = sorted(corpus.docs)
    dedup.ingest_dedup_batch(spark, bands, groups, docs_df(live), "seed")
    run.note("dedup state seeded")
    # the IVF index covers the seed corpus; its epochs are that corpus'
    # vector updates and deletes
    ivf.train_on(spark, vecs_df(live), "seed")
    indexed = set(live)

    def change_epoch(tag: str):
        """The next update/delete epoch: (run it, change records, doc
        changes)."""
        doc_rows, vec_rows = corpus.change_batch(CHANGE_FRAC, sorted(indexed))
        indexed.difference_update(v[0] for v in vec_rows if v[1] == "D")
        changes = spark.createDataFrame(
            doc_rows, "doc_id long, op string, text string, text_pre string")
        vchanges = spark.createDataFrame(
            vec_rows, "vec_id long, op string, embedding array<float>, "
                      "embedding_pre array<float>")
        current = docs_df(sorted(corpus.docs))

        def delta():
            dedup.apply_doc_changes(
                spark, bands, groups, changes, f"chg-{tag}",
                fetch_docs=lambda s, ids_: current.join(ids_, "doc_id",
                                                        "left_semi"))
            ivf.ingest_changes(spark, vchanges, f"chg-{tag}")
        return delta, len(doc_rows) + len(vec_rows), len(doc_rows)

    def round_(r: int) -> None:
        ids = corpus.insert_batch(INSERT_DOCS)
        new_docs = docs_df(ids)

        def insert():
            dedup.ingest_dedup_batch(spark, bands, groups, new_docs, f"ins-{r}")

        delta, n_changes, n_docs = change_epoch(str(r))

        def read(probe):
            return {x["doc_id"] for x in _held(
                run, "table.lookup_keys", lambda: groups.lookup_keys(
                    spark, probe).select("doc_id").collect(), rows=len)}

        run.op("commit", insert, events=len(ids), docs=len(ids))
        run.op("delta", delta, events=n_changes, changes=n_docs)
        grouped = {i for i, _ in _expected_groups(corpus.docs)}
        for _ in range(STANDING_READS):
            probe_ids = set(rng.sample(sorted(corpus.docs), N_DOC_PROBES))
            probe = spark.createDataFrame([(i,) for i in probe_ids],
                                          "doc_id long")
            got = run.op("read", lambda: read(probe))
            run.check(grouped & probe_ids <= got <= probe_ids,
                      f"group lookup round {r}")

    # warm-up: the first update/delete epoch in a fresh JVM ran 0-5.5 s
    # slower than the next, by a different amount on every run
    change_epoch("warm")[0]()
    run.note("standing state built, warm-up epoch")
    run.timed_rounds(lambda r=r: round_(r) for r in range(STANDING_ROUNDS))

    standing = {(x.doc_id, x.grp) for x in
                groups.read(spark).select("doc_id", "grp").collect()}
    run.check(_grouped(standing) == _expected_groups(corpus.docs)
              and {i for i, _ in standing} <= set(corpus.docs),
              "standing groups != from-scratch grouping")
    got = {(x.vec_id, x.centroid) for x in
           ivf.assignment(spark).select("vec_id", "centroid").collect()}
    fresh = _expected_assignment(
        {i: corpus.vecs[i] for i in indexed},
        [(x.cid, x.cemb) for x in ivf.centroids(spark).collect()])
    run.check(got == fresh, "ivf assignment != fresh assignment")


WORKLOADS = {"cdc_tail": cdc_tail, "standing_epochs": standing_epochs}
