"""The benchmark's workloads.

Both are closed loops: one client in one process, each call waits for the
previous one, Spark on ``local[nproc]``. A workload has two halves:

* ``prepare_*`` runs before Spark starts. It writes the seeded inputs as
  Parquet and builds the answer references; this is the benchmark's own
  cost and is reported apart (``corpus_gen_s``).
* ``run_*`` builds the store (set-up), makes the untimed warm-up calls,
  then repeats a fixed cycle of engine calls until the measured window has
  passed (at least one cycle), then checks answers. The first call of an
  executor in a fresh JVM pays for JIT compilation, Python worker start-up
  and first-use caches (measured 1.3-2.5x a warm call, and the surplus
  varied 2.5-8 s per cycle); the warm-up calls take that cost out of the
  window. They are answer checks as well (a single-query answer that a
  batch answer must agree with, a read against the reference), so the
  warm-up costs little time that the checks would not. Every timed engine
  call goes through a public function of the engine and is wrapped in a
  span named after the module and function it calls.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import INTERACTIVE_PATTERN, Corpus, Generator
from reference import TombstoneBM25, boolean_reference, same_ranking
from tracing import Tracer

# Term-hash partitions of the store. The engine's default (128) is sized
# for stores far larger than this corpus; at ~10k documents its
# per-partition fixed costs would fill the whole time budget of a run.
N_PARTITIONS = 8
SINGLES_PER_CYCLE = len(INTERACTIVE_PATTERN)


@dataclass
class Ops:
    """Operations attempted and failed (exceptions plus wrong answers)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def call(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failing engine call is a result, not a crash
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}"[:400])
            return None

    def check(self, label: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong answer: {label}")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    gen: Generator
    work: str
    seconds: float
    ops: Ops = field(default_factory=Ops)


def write_parquet(corpus: Corpus, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": corpus.doc_id, "repo": corpus.repo, "path": corpus.path,
            "commit": corpus.commit, "lang": corpus.lang, "content": corpus.content,
        }),
        os.path.join(path, "part-0.parquet"),
    )


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def store_counters(store: str, input_bytes: int) -> dict:
    out = {}
    for sub in ("segments", "terms", "doc_meta"):
        out[f"store.bytes.{sub}"], files = _dir_bytes(os.path.join(store, sub))
        if sub == "segments":
            out["store.segment_files"] = files
    out["index_bytes_per_input_byte"] = (
        sum(out[f"store.bytes.{sub}"] for sub in ("segments", "terms", "doc_meta")) / input_bytes
    )
    return out


def _ranked(rows, qid: int | None = None) -> list[tuple]:
    if qid is not None:
        rows = [r for r in rows if r["query_id"] == qid]
    return sorted((r["rank"], r["doc_id"], r["score"]) for r in rows)


def _build(ctx: Ctx, corpus_dir: str, store: str, positions: bool) -> tuple[dict, float]:
    from contextinator_spark.operators import segments

    t0 = time.perf_counter()
    with ctx.tracer.span("segments.write_index"):
        res = segments.write_index(
            ctx.spark, ctx.spark.read.parquet(corpus_dir), store,
            n_partitions=N_PARTITIONS, positions=positions,
        )
    return res, time.perf_counter() - t0


def _query(ctx: Ctx, name: str, plan) -> tuple[list | None, float]:
    """One engine call as a ``.plan`` span (the call that returns the
    DataFrame) and an ``.exec`` span (the action)."""
    def go():
        with ctx.tracer.span(name + ".plan"):
            df = plan()
        with ctx.tracer.span(name + ".exec"):
            return df.collect()

    t0 = time.perf_counter()
    rows = ctx.ops.call(name, go)
    return rows, time.perf_counter() - t0


def _quantile(values: list[float], q: float) -> float:
    return float(np.quantile(np.asarray(values), q)) if values else float("nan")


def _build_metrics(res: dict, build_s: float, n_docs: int) -> dict:
    phases = res.get("phases", {})
    return {
        "build_s": build_s,
        "build_docs_per_s": n_docs / build_s,
        **{f"segments.write_index.{p[:-4]}_s": v for p, v in phases.items()},
    }


# ---------------------------------------------------------------------------
# search: interactive single queries and batch executors on one store
# ---------------------------------------------------------------------------


def prepare_search(gen: Generator, work: str) -> dict:
    corpus = gen.corpus()
    write_parquet(corpus, os.path.join(work, "corpus"))
    logs = gen.batch_logs()
    return {
        "corpus": corpus,
        "interactive": gen.interactive_log(),
        "batches": {f: logs[f] for f in ("bm25", "phrase")},
        "input_bytes": sum(len(c) for c in corpus.content),
    }


def _search_executors(spark, store: str):
    from contextinator_spark.operators import bm25_segments, boolean, phrase

    single = {
        "bm25": ("bm25_segments.topk_segments",
                 lambda q: bm25_segments.topk_segments(spark, store, q)),
        "boolean": ("boolean.boolean_topk_query",
                    lambda q: boolean.boolean_topk_query(spark, store, q)),
    }
    batch = {
        "bm25": ("bm25_segments.topk_segments_multi",
                 lambda qs: bm25_segments.topk_segments_multi(spark, store, qs)),
        "phrase": ("phrase.positional_topk_indexed_multi",
                   lambda qs: phrase.positional_topk_indexed_multi(spark, store, qs)),
    }

    def phrase_single(q):
        """The single-query entry point the phrase batch must agree with."""
        terms, window = q
        if window is None:
            return phrase.phrase_topk_indexed(spark, store, terms)
        return phrase.near_topk_indexed(spark, store, terms, window)

    return single, batch, phrase_single


def run_search(ctx: Ctx, inp: dict) -> dict:
    corpus: Corpus = inp["corpus"]
    store = os.path.join(ctx.work, "store")
    res, build_s = _build(ctx, os.path.join(ctx.work, "corpus"), store, positions=True)
    single, batch, phrase_single = _search_executors(ctx.spark, store)
    log, batches = inp["interactive"], inp["batches"]
    warm = _warm_search(ctx, batches, phrase_single)

    lat: list[float] = []
    singles: list[tuple[str, object, list]] = []
    walls: dict[str, list[float]] = {f: [] for f in batch}
    batch_rows: dict[str, list] = {}
    cycles: list[float] = []
    t_start = time.perf_counter()
    i = 0
    while not cycles or time.perf_counter() - t_start < ctx.seconds:
        tc = time.perf_counter()
        with ctx.tracer.span("search.cycle"):
            for fam, (name, fn) in batch.items():
                rows, wall = _query(ctx, name, lambda: fn(batches[fam]))
                if rows is not None:
                    walls[fam].append(wall)
                    batch_rows[fam] = rows
            for _ in range(SINGLES_PER_CYCLE):
                kind, q = log[i % len(log)]
                i += 1
                name, fn = single[kind]
                rows, wall = _query(ctx, name, lambda: fn(q))
                if rows is not None:
                    lat.append(wall)
                    singles.append((kind, q, rows))
        cycles.append(time.perf_counter() - tc)
    window_s = time.perf_counter() - t_start

    _check_search(ctx, corpus, singles, batches, batch_rows, warm)
    out = {
        "window_s": window_s,
        "cycles": len(cycles),
        "cycle_s": statistics.median(cycles),
        "query_samples": len(lat),
        "query_p50_s": _quantile(lat, 0.5),
        "query_p90_s": _quantile(lat, 0.9),
        **{
            f"{fam}_batch_qps": len(batches[fam]) / statistics.median(w)
            for fam, w in walls.items() if w
        },
        **_build_metrics(res, build_s, len(corpus)),
        **store_counters(store, inp["input_bytes"]),
    }
    out["read_mean_s"] = statistics.fmean(lat) if lat else float("nan")
    return out


def _warm_search(ctx: Ctx, batches: dict, phrase_single) -> dict:
    """Untimed warm-up, before the window: the single-query entry points of
    one seeded phrase/NEAR query and of the first BM25 query of the batches.
    The first call of the session pays the JIT and worker start-up shared by
    every executor, the second the driver short-circuit's own first-call
    cost (~2 s). Both answers are checked against the batches after the
    window."""
    from contextinator_spark.operators import bm25_segments

    spark, store = ctx.spark, os.path.join(ctx.work, "store")
    phrase_qid = int(np.random.default_rng([ctx.gen.seed, 7]).integers(0, len(batches["phrase"])))
    return {
        "phrase_qid": phrase_qid,
        "phrase_single": ctx.ops.call(
            "warm-up phrase single",
            lambda: phrase_single(batches["phrase"][phrase_qid]).collect(),
        ),
        "bm25_single": ctx.ops.call(
            "warm-up topk_segments",
            lambda: bm25_segments.topk_segments(spark, store, batches["bm25"][0]).collect(),
        ),
    }


def _check_search(ctx, corpus, singles, batches, batch_rows, warm) -> None:
    """Against the brute-force oracle: the single BM25 and Boolean answers
    and the first query of the BM25 batch. Against the single-query entry
    point: that query, and one seeded phrase/NEAR query of the phrase
    batch."""
    from contextinator_spark.oracle import BruteForceBM25

    oracle = BruteForceBM25(dict(zip(corpus.doc_id.tolist(), corpus.content)))
    for kind, q, rows in singles:
        want = oracle.topk(q) if kind == "bm25" else boolean_reference(oracle, q)
        if want is not None:
            ctx.ops.check(f"{kind} single {q}", same_ranking(_ranked(rows), want))
    if "bm25" in batch_rows:
        got = _ranked(batch_rows["bm25"], 0)
        ctx.ops.check("topk_segments_multi q0", same_ranking(got, oracle.topk(batches["bm25"][0])))
        if warm["bm25_single"] is not None:
            ctx.ops.check("topk_segments_multi q0 vs single",
                          same_ranking(got, _ranked(warm["bm25_single"])))
    if "phrase" in batch_rows and warm["phrase_single"] is not None:
        qid = warm["phrase_qid"]
        ctx.ops.check(
            f"phrase batch q{qid} vs single",
            same_ranking(_ranked(batch_rows["phrase"], qid), _ranked(warm["phrase_single"])),
        )


# ---------------------------------------------------------------------------
# index_write: ingest, percolate, delete and reads on a format-1 store
# ---------------------------------------------------------------------------


def prepare_write(gen: Generator, work: str) -> dict:
    corpus = gen.corpus()
    write_parquet(corpus, os.path.join(work, "corpus"))
    stream = gen.write_stream(len(corpus))
    for e, ep in enumerate(stream):
        write_parquet(ep["docs"], os.path.join(work, f"batch-{e}"))
    ref = TombstoneBM25(terms={t for ep in stream for q in ep["reads"] for t in q})
    ref.add(corpus.doc_id, corpus.content)
    logs = gen.batch_logs()
    return {
        "corpus": corpus,
        "stream": stream,
        "percolate": logs["percolate"],
        "bm25f": logs["bm25f"],
        "reference": ref,
        "input_bytes": sum(len(c) for c in corpus.content),
    }


def run_write(ctx: Ctx, inp: dict) -> dict:
    from contextinator_spark.operators import bm25_segments, deletes, multifield, percolate
    from contextinator_spark.streaming import ingest

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    corpus: Corpus = inp["corpus"]
    ref: TombstoneBM25 = inp["reference"]
    store = os.path.join(ctx.work, "store")
    res, build_s = _build(ctx, os.path.join(ctx.work, "corpus"), store, positions=False)
    registered, bm25f_log = inp["percolate"], inp["bm25f"]
    # BM25F over the content store as its one field (a second field store
    # would cost a second build in every run's set-up), read while the
    # store carries deltas and tombstones
    fields = {"content": store}
    qid_rng = np.random.default_rng([ctx.gen.seed, 7])
    perc_qid = int(qid_rng.integers(0, len(registered)))
    perc_one = _warm_write(ctx, store, inp, registered, perc_qid)

    def read(q: list[str], label: str) -> None:
        rows, wall = _query(
            ctx, "bm25_segments.topk_segments",
            lambda: bm25_segments.topk_segments(spark, store, q),
        )
        if rows is not None:
            reads.append(wall)
            ops.check(f"{label} read {q}", same_ranking(_ranked(rows), ref.topk(q)))

    reads: list[float] = []
    ingest_s: list[float] = []
    delete_s: list[float] = []
    perc_s: list[tuple[int, float]] = []
    bm25f_s: list[float] = []
    epochs: list[float] = []
    perc_rows = None  # the first micro-batch's percolation
    bm25f_rows = None
    t_start = time.perf_counter()
    for e, ep in enumerate(inp["stream"]):
        if epochs and time.perf_counter() - t_start >= ctx.seconds:
            break
        docs: Corpus = ep["docs"]
        batch = spark.read.parquet(os.path.join(ctx.work, f"batch-{e}"))
        tc = time.perf_counter()
        with tr.span("index_write.epoch"):
            t0 = time.perf_counter()
            with tr.span("ingest.apply_ingest_batch"):
                ok = ops.call(
                    "apply_ingest_batch",
                    lambda: ingest.apply_ingest_batch(batch, e, store, n_partitions=N_PARTITIONS) or True,
                )
            if ok:
                ingest_s.append(time.perf_counter() - t0)
            ref.add(docs.doc_id, docs.content)
            rows, wall = _query(ctx, "percolate.percolate",
                                lambda: percolate.percolate(batch, registered))
            if rows is not None:
                perc_s.append((len(docs), wall))
                if e == 0:
                    perc_rows = rows
            read(ep["reads"][0], "post-ingest")
            t0 = time.perf_counter()
            with tr.span("deletes.delete_docs"):
                ok = ops.call("delete_docs",
                              lambda: deletes.delete_docs(spark, store, ep["deletes"].tolist()))
            if ok:
                delete_s.append(time.perf_counter() - t0)
            ref.delete(ep["deletes"])
            for q in ep["reads"][1:]:
                read(q, "post-delete")
            rows, wall = _query(ctx, "multifield.bm25f_topk_multi",
                                lambda: multifield.bm25f_topk_multi(spark, fields, bm25f_log))
            if rows is not None:
                bm25f_s.append(wall)
                bm25f_rows = rows
        epochs.append(time.perf_counter() - tc)
    window_s = time.perf_counter() - t_start

    if perc_one is not None and perc_rows is not None:
        ops.check(
            f"percolate q{perc_qid} batch vs single",
            sorted(r["doc_id"] for r in perc_rows if r["query_id"] == perc_qid)
            == sorted(r["doc_id"] for r in perc_one),
        )
    # on odd seeds, one BM25F batch query against its single-query entry
    # point, on the last epoch's store state
    if ctx.gen.seed % 2 and bm25f_rows is not None:
        qid = int(qid_rng.integers(0, len(bm25f_log)))
        one = ops.call("check bm25f",
                       lambda: multifield.bm25f_topk(spark, fields, bm25f_log[qid]).collect())
        if one is not None:
            ops.check(f"bm25f batch q{qid} vs single",
                      same_ranking(_ranked(bm25f_rows, qid), _ranked(one)))
    out = {
        "window_s": window_s,
        "epochs": len(epochs),
        "cycle_s": statistics.median(epochs),
        "ingest_visible_p50_s": statistics.median(ingest_s) if ingest_s else float("nan"),
        "delete_visible_p50_s": statistics.median(delete_s) if delete_s else float("nan"),
        "mixed_query_p50_s": _quantile(reads, 0.5),
        "mixed_query_samples": len(reads),
        "percolate_docs_per_s": (
            sum(n for n, _ in perc_s) / sum(w for _, w in perc_s) if perc_s else float("nan")
        ),
        "multifield_batch_qps": (
            len(bm25f_log) / statistics.median(bm25f_s) if bm25f_s else float("nan")
        ),
        **_build_metrics(res, build_s, len(corpus)),
        **store_counters(store, inp["input_bytes"]),
    }
    out["read_mean_s"] = statistics.fmean(reads) if reads else float("nan")
    return out


def _warm_write(ctx: Ctx, store: str, inp: dict, registered: dict, qid: int):
    """Untimed warm-up on the built store: the first epoch's post-ingest
    read, checked against the reference, and the percolation of the first
    micro-batch against registered query ``qid`` alone (it reads no store),
    which the window's percolation of that batch must agree with. Returns
    the percolation rows."""
    from contextinator_spark.operators import bm25_segments, percolate

    spark, ops = ctx.spark, ctx.ops
    q = inp["stream"][0]["reads"][0]
    rows = ops.call("warm-up read", lambda: bm25_segments.topk_segments(spark, store, q).collect())
    if rows is not None:
        ops.check(f"warm-up read {q}", same_ranking(_ranked(rows), inp["reference"].topk(q)))
    batch = spark.read.parquet(os.path.join(ctx.work, "batch-0"))
    return ops.call("warm-up percolate",
                    lambda: percolate.percolate(batch, {qid: registered[qid]}).collect())


WORKLOADS = {
    "search": (prepare_search, run_search),
    "index_write": (prepare_write, run_write),
}
