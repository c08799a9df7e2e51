"""The workloads. Each takes a ``harness.Run``, builds its inputs
from the run's seed, sets up the program ``SETUPS`` times, measures for
the run's seconds, and checks every answer.

Sizes (see README.md for why):
- endpoint_point: the 1x graph (~406k triples), pre-encoded parquet.
- rdf_write:      the 0.1x graph (~40k triples) as raw N-Triples.
- curate:         4000 generated documents.
"""

from __future__ import annotations

import time

import numpy as np

import gen
import queries
from harness import Run, layer_metrics, tree_bytes
from spans import median

POINT_SCALE = 1.0
WRITE_SCALE = 0.1
CURATE_DOCS = 4000
# seconds of checked, untimed work between the set-ups and the window
POINT_WARM_S = 6.0
CURATE_WARM_S = 4.0


def warm(seconds: float, do) -> int:
    """Calls ``do(i)`` until ``seconds`` have passed, so that the window
    samples a JVM past its steepest JIT warm-up. Returns the number of
    calls."""
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end:
        do(i)
        i += 1
    return i


def trace_overhead(run: Run, do, n: int = 0) -> None:
    """Calls ``do(i, kind)`` (which returns a latency) in pairs, once
    untraced (kind "untraced") and once traced (kind "traced"),
    alternating which of the two goes first so both see the same JVM
    warmth. Runs ``n`` pairs, or pairs until the run's seconds are over
    when ``n`` is 0. Sets ``trace.overhead_s`` to the median over pairs
    of traced minus untraced latency: both halves of a pair are the
    same operation, so the templates' different latencies cancel."""
    deadline = time.perf_counter() + run.seconds
    diffs = []
    i = 0
    while (i < n) if n else (i < 2 or time.perf_counter() < deadline):
        lat = {}
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                run.begin_trace()
            try:
                lat[traced] = do(i, "traced" if traced else "untraced")
            finally:
                if traced:
                    run.end_trace()
        diffs.append(lat[True] - lat[False])
        i += 1
    run.layer["trace.overhead_s"] = median(diffs)


def endpoint_point(run: Run) -> None:
    """Pre-encoded store -> ``Engine.open`` -> endpoint. Each set-up
    opens the store, starts the endpoint and answers the stream's first
    request (the same one every time). The warm-up and then the window
    continue the stream from there."""
    from rdfproject_msc_spark.engine import Engine

    g = gen.rdf_graph(run.seed, POINT_SCALE)
    store, dictp = run.path("store"), run.path("dict")
    gen.write_encoded(g, store, dictp)
    reqs = queries.point_stream(g, run.seed, 200)
    run.figures["graph.triples"] = (g.n_triples, "count")
    run.figures["graph.dict_bytes"] = (tree_bytes(dictp), "bytes")
    run.start_spark()

    def setup():
        run.serve(Engine(run.spark).open(store, dict_path=dictp))
        run.op(reqs[0])

    run.setups(setup)
    rest = reqs[1:]  # wrapped round, like the window, if it runs out
    n = warm(POINT_WARM_S, lambda i: run.op(rest[i % len(rest)])) % len(rest)
    reqs = rest[n:] + rest[:n]
    if run.traced:
        trace_overhead(run, lambda i, kind: run.timed(kind, reqs[i % len(reqs)]))
    else:
        run.window(reqs)


def rdf_write(run: Run) -> None:
    """Raw N-Triples ingest + save, then write cycles on an
    update-enabled endpoint until the window is over (at least one):
    reads / INSERT DATA / DELETE DATA / reads, then vacuum + save
    (``queries.write_cycle``).
    The measured lifecycle is the ingest plus the cycles; the set-ups
    (open + serve + a warm read) between them are not part of it."""
    from rdfproject_msc_spark.engine import Engine

    g = gen.rdf_graph(run.seed, WRITE_SCALE)
    nt = run.path("graph.nt")
    nt_bytes = gen.write_ntriples(g, nt)
    run.start_spark()

    # -- ingest: raw N-Triples -> persisted store + dictionary --------------
    store0, dict0 = run.path("store0"), run.path("dict0")
    run.attempted += 1
    eng = Engine(run.spark)
    t0 = time.perf_counter()
    with run.span("ingest.load"):
        eng.load_triples(nt, fmt="nt")
    t1 = time.perf_counter()
    with run.span("ingest.save"):
        eng.save(store0, dict_path=dict0)
    t2 = time.perf_counter()
    # the ingest is part of the measured write lifecycle (queries_per_s)
    run.window_s += t2 - t0
    run.ops_in_window += 1
    eng.close()
    stored = run.spark.read.parquet(store0).count()
    if stored != g.n_triples:
        run.fail(f"ingest stored {stored} triples, generated {g.n_triples}")
    store_bytes, dict_bytes = tree_bytes(store0), tree_bytes(dict0)
    run.figures.update({
        "ingest_triples_per_s": (g.n_triples / (t2 - t0), "triples/s"),
        "store_bytes_per_input_byte": ((store_bytes + dict_bytes) / nt_bytes, "ratio"),
    })
    run.layer.update({
        "ingest.load_s": t1 - t0, "ingest.save_s": t2 - t1,
        "ingest.store_bytes": store_bytes, "ingest.dict_bytes": dict_bytes,
        "ingest.lines_skipped": g.n_triples - stored,
        "ingest.triples_per_s": g.n_triples / (t2 - t0),
        "ingest.store_bytes_per_input_byte": (store_bytes + dict_bytes) / nt_bytes,
    })

    model = queries.OrderModel(g)
    rng = np.random.default_rng([run.seed, 5])
    warm = model.star(queries.u("customer", int(g.orders.at[0, "customer"])))
    live = {}

    def setup():
        live["engine"] = Engine(run.spark).open(store0, dict_path=dict0)
        run.serve(live["engine"], enable_update=True)
        run.op(warm)

    run.setups(setup)
    engine = live["engine"]

    if run.traced:
        # tracing overhead on reads of the freshly opened store
        probe = [model.star(queries.u("customer", int(c)))
                 for c in g.orders["customer"].iloc[1:4]]
        trace_overhead(run, lambda i, kind: run.timed(kind, probe[i]), len(probe))
        run.begin_trace()

    compact, vac, dropped = [], [], []
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    cycle = 0
    while cycle == 0 or time.perf_counter() < deadline:
        for req in queries.write_cycle(model, g, rng, cycle):
            run.timed("update" if req.update else "query", req)
            run.ops_in_window += 1
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.span("vacuum"):
                stats = engine.vacuum()
            t1 = time.perf_counter()
            with run.span("compact.save"):
                engine.save(run.path(f"store{cycle + 1}"),
                            dict_path=run.path(f"dict{cycle + 1}"))
            compact.append(time.perf_counter() - t0)
            run.ops_in_window += 1
            vac.append(t1 - t0)
            dropped.append(stats["dropped"])
        except Exception as e:
            run.fail(f"vacuum/save: {type(e).__name__}: {e}")
        cycle += 1
    run.window_s += time.perf_counter() - t_start
    if run.traced:
        run.end_trace()
    run.figures.update({
        "update_p50_s": (median(run.latency.get("update", [])), "s"),
        "compact_s": (median(compact), "s"),
        "write_cycles": (cycle, "count"),
    })
    run.layer.update({
        "update.request_p50_s": median(run.latency.get("update", [])),
        "vacuum.s": median(vac),
        "vacuum.terms_dropped": sum(dropped),
        "compact.s": median(compact),
    })


def curate(run: Run) -> None:
    """``operators.curate.curate_stats`` over a generated corpus, in a
    closed loop; each answer is compared with the registry's
    CORPUS_CURATE_SQL evaluated by DuckDB over the same corpus (once,
    outside the timed window)."""
    import duckdb

    docs = gen.documents(run.seed, CURATE_DOCS)
    path = run.path("docs")
    gen.write_documents(docs, path)
    from rdfproject_msc_spark.operators import curate as C
    from rdfproject_msc_spark.registry import CORPUS_CURATE_SQL

    con = duckdb.connect()
    con.register("documents", docs)
    want = tuple(int(x) for x in con.execute(CORPUS_CURATE_SQL).fetchone())
    con.close()
    run.start_spark()
    parts = run.spark.sparkContext.defaultParallelism
    live = {}

    def once(kind: str | None) -> float:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            row = C.curate_stats(live["df"], near_dup_threshold=0.5, min_quality=0.3,
                                 min_partitions=parts).collect()[0]
            got = (int(row["n_docs"]), int(row["total_chars"]),
                   int(row["total_bpe_tokens"]))
            if got != want:
                run.fail(f"curate {got} != DuckDB {want}")
        except Exception as e:
            run.fail(f"curate: {type(e).__name__}: {e}")
        lat = time.perf_counter() - t0
        if kind:
            run.latency.setdefault(kind, []).append(lat)
        return lat

    def setup():
        live["df"] = run.spark.read.parquet(path)
        once(None)  # the warm-up request, checked like any other

    run.setups(setup)
    df = live["df"]
    warm(CURATE_WARM_S, lambda i: once(None))

    if run.traced:
        trace_overhead(run, lambda i, kind: once(kind), 3)
        run.layer["curate.docs_per_s"] = CURATE_DOCS / median(run.latency["untraced"])
        run.layer.update(_curate_stages(df, parts))
        return
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    while not run.latency.get("query") or time.perf_counter() < deadline:
        once("query")
        run.ops_in_window += 1
    run.window_s = time.perf_counter() - t0
    run.figures["docs_per_s"] = (CURATE_DOCS / median(run.latency["query"]), "docs/s")


def _curate_stages(df, parts: int) -> dict:
    """One action per stage of ``operators.curate.curate``: exact dedup,
    MinHash-LSH pairs, text stats. The chain is a copy of that
    function's, in its order and with its pushdown barrier, and must be
    kept in step with it. Each stage's input is materialised
    (``localCheckpoint``) before its clock starts and its output is
    materialised as the timed action, so each time covers one stage."""
    from pyspark.sql import functions as F

    from rdfproject_msc_spark.operators import dedup, textstats

    def timed(build):
        t0 = time.perf_counter()
        out = build().localCheckpoint(eager=True)
        return time.perf_counter() - t0, out

    def barrier(d):  # curate()'s one-element explode
        return d.select(F.explode(F.array(F.struct(*d.columns))).alias("__row")
                        ).select("__row.*")

    base = df.select("doc_id", "text").localCheckpoint(eager=True)
    exact_s, uniq = timed(lambda: barrier(dedup.exact_dedup(base, "text", "doc_id")))
    lsh_s, pairs = timed(lambda: dedup.minhash_lsh_pairs(
        uniq, "text", "doc_id", threshold=0.5, min_partitions=parts))
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = uniq.join(drops, "doc_id", "left_anti").localCheckpoint(eager=True)
    stats_s, stats = timed(lambda: textstats.with_text_stats(kept, "text"))
    return {
        "dedup.exact_s": exact_s, "dedup.exact_rows_in": base.count(),
        "dedup.exact_rows_out": uniq.count(), "dedup.lsh_s": lsh_s,
        "dedup.near_dup_pairs": pairs.count(), "textstats.s": stats_s,
        "textstats.rows_in": kept.count(), "textstats.rows_out": stats.count(),
    }


WORKLOADS = {
    "endpoint_point": endpoint_point,
    "rdf_write": rdf_write,
    "curate": curate,
}


def finish_layers(run: Run) -> dict:
    """Every per-layer metric, for every workload (0 where the workload
    does not reach the layer)."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = run.figures["session.start_s"][0]
    out["host.calib_s"] = run.figures["host.calib_s"][0]
    if run.tracer.spans:
        out.update(layer_metrics(run))
    out.update(run.layer)
    out["run.error_rate"] = run.failed / max(run.attempted, 1)
    if set(out) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics out of step: {set(out) ^ set(PER_LAYER)}")
    return out


PER_LAYER = {
    "session.start_s": "s", "host.calib_s": "s", "trace.overhead_s": "s",
    "serve.self_s": "s", "parser.parse_s": "s",
    "planner.build_s": "s", "planner.spark_jobs": "count",
    "planner.py4j_calls": "count",
    "dictionary.lookup_calls": "count", "dictionary.lookup_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.exchanges": "count", "exec.bhj": "count", "exec.smj": "count",
    "exec.shuffle_bytes": "bytes", "exec.rows_scanned_per_row_returned": "ratio",
    "ingest.load_s": "s", "ingest.save_s": "s", "ingest.store_bytes": "bytes",
    "ingest.dict_bytes": "bytes", "ingest.lines_skipped": "count",
    "ingest.triples_per_s": "triples/s",
    "ingest.store_bytes_per_input_byte": "ratio",
    "update.request_p50_s": "s", "update.apply_s": "s",
    "update.store_plan_nodes": "count", "update.dict_plan_nodes": "count",
    "vacuum.s": "s", "vacuum.terms_dropped": "count", "compact.s": "s",
    "curate.docs_per_s": "docs/s", "dedup.exact_s": "s",
    "dedup.exact_rows_in": "count", "dedup.exact_rows_out": "count",
    "dedup.lsh_s": "s", "dedup.near_dup_pairs": "count", "textstats.s": "s",
    "textstats.rows_in": "count", "textstats.rows_out": "count",
    "run.error_rate": "ratio",
}
