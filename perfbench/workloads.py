"""The three workloads: ``build``, ``increment`` and ``query``.

Each workload has a ``setup`` (timed as ``setup_s``), a ``warmup``, an
``op`` (one timed unit of work: a fresh warehouse build, one increment
batch, one query), and ``checks`` run after the timed region. With a
tracer attached, ``op`` replays the same public calls one layer per
span, materialising each layer's output at its boundary so a span holds
its own work.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import gen
from spans import Tracer

from pyspark.sql import functions as F
from threat_intelligence_knowledge_graph_spark.kernel.extract import extract_document
from threat_intelligence_knowledge_graph_spark.operators.extraction import (
    extract_graph_records_fused,
)
from threat_intelligence_knowledge_graph_spark.operators.triples import (
    build_edges,
    build_nodes,
    build_triples,
)
from threat_intelligence_knowledge_graph_spark.oracle.reference_oracle import oracle_triples
from threat_intelligence_knowledge_graph_spark.plans import graph_queries as gq
from threat_intelligence_knowledge_graph_spark.plans.cypher_lite import cypher_query
from threat_intelligence_knowledge_graph_spark.plans.pipeline import (
    _partition_metrics,
    audit_graph_tables,
    run_incremental,
    run_pipeline,
)
from threat_intelligence_knowledge_graph_spark.sources.ingest import read_transcripts
from threat_intelligence_knowledge_graph_spark.sources.tableio import LocalTableCatalog

GRAPH_TABLES = ("extraction", "nodes", "edges", "triples", "metrics")
METRICS_KEYS = ["run_id", "stage", "partition_id", "metric"]


@dataclass
class Op:
    """One timed operation. ``items`` is the work it stands for: corpus
    turns (build), new turns (increment) or 1 (query)."""

    latency_s: float
    items: int
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer | None = None
    # per-op counts recorded at layer boundaries while tracing
    counts: dict = field(default_factory=dict)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


# -- helpers -----------------------------------------------------------------

CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _materialize(df):
    """Cache and count ``df``. Adaptive execution stays on for the cached
    plan, so the cached data keeps the coalesced partitioning the
    uncached plan would have and the next write lays out the same files
    as ``run_pipeline`` (without it every graph table was written as 200
    files instead of 1-2, and queries on it ran ~3x slower)."""
    conf = df.sparkSession.conf
    old = conf.get(CACHED_PARTITIONING)
    conf.set(CACHED_PARTITIONING, "true")
    try:
        df = df.cache()
    finally:
        conf.set(CACHED_PARTITIONING, old)
    return df, df.count()


def _read(ctx: Ctx, catalog: LocalTableCatalog, name: str):
    with ctx.span("tableio.read", table=name) as s:
        df = catalog.read(ctx.spark, name)
        if s is not None:
            s.attrs["files"] = len(_parquet_files(catalog, name))
    return df


def _parquet_files(catalog: LocalTableCatalog, name: str) -> list[str]:
    out = []
    for d in catalog._chain_dirs(name, catalog.log(name)):
        out.extend(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
    return out


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, files in os.walk(path)
        for f in files
    )


def live_bytes(catalog: LocalTableCatalog) -> int:
    tables = [t for t in os.listdir(catalog.root) if catalog.exists(t)]
    return sum(
        os.path.getsize(f) for t in tables for f in _parquet_files(catalog, t)
    )


def file_listing(root: str) -> dict[str, int]:
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _dn, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }


def commit_count(catalog: LocalTableCatalog) -> int:
    return sum(len(catalog.log(t)) for t in os.listdir(catalog.root))


@contextmanager
def write_accounting(ctx: Ctx, catalog: LocalTableCatalog):
    """Commits, files and bytes an operation writes, and the growth of
    the live (head-snapshot) tables, recorded only while tracing."""
    if ctx.tracer is None:
        yield
        return
    files0, commits0, live0 = file_listing(catalog.root), commit_count(catalog), live_bytes(catalog)
    yield
    new = {p: b for p, b in file_listing(catalog.root).items() if p not in files0}
    ctx.count("tableio.commits", commit_count(catalog) - commits0)
    ctx.count("tableio.files_written", len(new))
    ctx.count("tableio.bytes_written", sum(new.values()))
    ctx.count("tableio.live_growth", live_bytes(catalog) - live0)


def triple_set(catalog: LocalTableCatalog) -> set[tuple[str, str, str]]:
    import duckdb

    files = _parquet_files(catalog, "triples")
    with duckdb.connect() as con:
        rows = con.execute(
            "SELECT subj, pred, obj FROM read_parquet(?)", [files]
        ).fetchall()
    return set(rows)


def graph_snapshot(catalog: LocalTableCatalog) -> tuple[set, dict[str, int]]:
    """The triple set and the parquet files per graph table."""
    files = {t: len(_parquet_files(catalog, t)) for t in ("nodes", "edges", "triples")}
    return triple_set(catalog), files


def _replay_pipeline(ctx: Ctx, catalog, transcripts, run_id: str, collect_counts: bool):
    """``run_pipeline(fused=True)``'s stage sequence on a fresh run id,
    one layer per span."""
    spark = ctx.spark
    cached = []
    with ctx.span("extraction.extract_graph_records_fused"):
        ext, n = _materialize(extract_graph_records_fused(transcripts))
    cached.append(ext)
    ctx.count("extraction.records_out", n)
    with ctx.span("tableio.overwrite", table="extraction"):
        catalog.overwrite(ext, "extraction", run_id, "extract")
    extraction = _read(ctx, catalog, "extraction")
    with ctx.span("tableio.merge", table="metrics"):
        catalog.merge(
            spark, _partition_metrics(extraction, run_id, "extract"), "metrics",
            keys=METRICS_KEYS, run_id=run_id, stage="extract-metrics",
        )
    with ctx.span("triples.build_nodes"):
        nodes_in, n = _materialize(build_nodes(extraction))
    cached.append(nodes_in)
    ctx.count("triples.nodes_out", n)
    with ctx.span("tableio.merge", table="nodes"):
        catalog.merge(spark, nodes_in, "nodes", keys=["node_label", "node_id"],
                      run_id=run_id, stage="assemble")
    nodes = _read(ctx, catalog, "nodes")
    with ctx.span("triples.build_edges"):
        edges_in, n = _materialize(build_edges(extraction, nodes))
    cached.append(edges_in)
    ctx.count("triples.edges_out", n)
    with ctx.span("tableio.merge", table="edges"):
        catalog.merge(spark, edges_in, "edges", keys=["src_id", "rel_type", "dst_id"],
                      run_id=run_id, stage="assemble")
    edges = _read(ctx, catalog, "edges")
    with ctx.span("triples.build_triples"):
        triples_in, n = _materialize(build_triples(edges))
    cached.append(triples_in)
    ctx.count("triples.triples_out", n)
    with ctx.span("tableio.merge", table="triples"):
        catalog.merge(spark, triples_in, "triples", keys=["subj", "pred", "obj"],
                      run_id=run_id, stage="assemble")
    if collect_counts:
        with ctx.span("pipeline.counts"):
            for t in GRAPH_TABLES:
                _read(ctx, catalog, t).count()
    for df in cached:
        df.unpersist()


def _read_ingest(ctx: Ctx, path: str):
    """``read_transcripts``; while tracing, materialised with its row
    and quarantine counts."""
    if ctx.tracer is None:
        return read_transcripts(ctx.spark, path)[0]
    with ctx.span("ingest.read_transcripts"):
        transcripts, quarantined = read_transcripts(ctx.spark, path)
        transcripts, rows_in = _materialize(transcripts)
        ctx.count("ingest.rows_in", rows_in)
        ctx.count("ingest.rows_quarantined", quarantined.count())
    return transcripts


def fresh_build(
    ctx: Ctx, catalog, corpus: str, run_id: str, docs: int, audit: bool = True
) -> list[dict]:
    """``read_transcripts`` → ``run_pipeline(fused=True)`` →
    ``audit_graph_tables`` (the ``jobs/run_pipeline.py --fused``
    sequence); while tracing, one layer per span. Returns the audit rows
    (none with ``audit=False``)."""
    spark = ctx.spark
    with write_accounting(ctx, catalog):
        transcripts = _read_ingest(ctx, corpus)
        if ctx.tracer is None:
            run_pipeline(spark, transcripts, catalog, run_id=run_id, fused=True)
        else:
            ctx.count("extraction.docs", docs)
            _replay_pipeline(ctx, catalog, transcripts, run_id, collect_counts=True)
            transcripts.unpersist()
        if not audit:
            return []
        with ctx.span("pipeline.audit_graph_tables"):
            rows = audit_graph_tables(spark, catalog, run_id=run_id).collect()
    return [r.asDict() for r in rows]


def _incremental_load(ctx: Ctx, catalog, path: str, run_id: str, rows_in: int, n_new: int):
    """``run_incremental`` on one batch; while tracing, its stage sequence
    one layer per span."""
    with write_accounting(ctx, catalog):
        transcripts = _read_ingest(ctx, path)
        if ctx.tracer is None:
            run_incremental(ctx.spark, transcripts, catalog, run_id=run_id)
            return
        todo = transcripts
        if catalog.exists("conv_seen"):
            with ctx.span("incremental.antijoin"):
                seen = _read(ctx, catalog, "conv_seen")
                todo, n_todo = _materialize(transcripts.join(seen, "conv_id", "left_anti"))
            ctx.count("incremental.rows_in", rows_in)
            ctx.count("incremental.rows_dropped", rows_in - n_todo)
        ctx.count("extraction.docs", n_new)
        _replay_pipeline(ctx, catalog, todo, run_id, collect_counts=False)
        with ctx.span("tableio.merge", table="conv_seen"):
            catalog.merge(ctx.spark, todo.select("conv_id").distinct(), "conv_seen",
                          keys=["conv_id"], run_id=run_id, stage="conv-seen")
        with ctx.span("pipeline.counts"):
            for t in ("nodes", "edges", "triples"):
                _read(ctx, catalog, t).count()
        todo.unpersist()
        transcripts.unpersist()


def kernel_probe(docs: list[tuple[str, str, int]], budget_s: float = 1.0) -> float:
    """Turns per second of ``extract_document`` on one core, in-process,
    over the workload's own documents (cycled until the budget is spent)."""
    turns, t0 = 0, time.perf_counter()
    i = 0
    while True:
        _cid, text, n = docs[i % len(docs)]
        extract_document(text)
        turns += n
        i += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= budget_s and i >= min(len(docs), 20):
            return turns / elapsed


# -- build -----------------------------------------------------------------

class Build:
    """Fresh warehouse per operation, the ``jobs/run_pipeline.py --fused``
    sequence: ingest, fused pipeline, audit."""

    name = "build"
    sizes = gen.SIZES["build"]
    round_size = 1
    # a throughput and a median over at least two builds per run (a
    # third would not fit the evaluation's time budget on a busy host)
    min_ops = 2
    op_span = "op.build"

    def prepare(self, ctx: Ctx) -> dict:
        return {}

    def setup(self, ctx: Ctx, rep: int, fixture: dict) -> dict:
        rows = gen.conversation_rows(range(self.sizes["convs"]), ctx.seed)
        corpus = os.path.join(ctx.work, f"build-corpus-{rep}")
        shutil.rmtree(corpus, ignore_errors=True)
        gen.write_corpus(rows, corpus, self.sizes["files"], ctx.seed, "build")
        return {"rows": rows, "corpus": corpus, "turns": len(rows), "k": 0}

    def warmup(self, ctx: Ctx, state: dict) -> None:
        # one full build, the cold one (JVM, codegen, Python workers); the
        # timed builds after it still speed up a little from first to last,
        # the same way in every run
        self._build(ctx, state["corpus"], os.path.join(ctx.work, "build-warmup-wh"), "warmup")

    def _build(self, ctx: Ctx, corpus: str, wh: str, run_id: str) -> dict:
        shutil.rmtree(wh, ignore_errors=True)
        audit = fresh_build(ctx, LocalTableCatalog(wh), corpus, run_id, docs=self.sizes["convs"])
        return {"warehouse": wh, "audit": audit}

    def op(self, ctx: Ctx, state: dict) -> Op:
        state["k"] += 1
        wh = os.path.join(ctx.work, f"build-wh-{state['k']}")
        prev = os.path.join(ctx.work, f"build-wh-{state['k'] - 1}")
        t0 = time.perf_counter()
        with ctx.span("op.build"):
            detail = self._build(ctx, state["corpus"], wh, f"build-{state['k']}")
        latency = time.perf_counter() - t0
        shutil.rmtree(prev, ignore_errors=True)
        return Op(latency, state["turns"], detail)

    def kernel_docs(self, state: dict):
        return gen.documents(state["rows"])

    def begin(self, ctx: Ctx, state: dict) -> None:
        pass

    def warehouse_bytes(self, state: dict, ops: list[Op]) -> int:
        return tree_bytes(ops[-1].detail["warehouse"])

    def checks(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        out = []
        for i, op in enumerate(ops):
            bad = [f"{r['table']}:{r['check']}" for r in op.detail["audit"] if not r["passed"]]
            out.append((f"audit[{i}]", not bad, ",".join(bad)))
        want = oracle_triples([(c, t) for c, t, _n in gen.documents(state["rows"])])
        got = triple_set(LocalTableCatalog(ops[-1].detail["warehouse"]))
        out.append(("triples==oracle", got == want,
                    f"got {len(got)} want {len(want)} diff {len(got ^ want)}"))
        return out

    def final_graph(self, state: dict, ops: list[Op]) -> tuple:
        return graph_snapshot(LocalTableCatalog(ops[-1].detail["warehouse"]))

    def trace_extra(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        """While tracing, one round of the query mix over the warehouse
        just built (like ``run_pipeline.py --show-flagship``), so the
        traced run also measures the read layers; its results are checked."""
        q = Query()
        catalog = LocalTableCatalog(ops[-1].detail["warehouse"])
        qstate = q.setup(ctx, 0, {"rows": state["rows"], "catalog": catalog, "audit": []})
        q.begin(ctx, qstate)
        for _ in range(gen.ROUND):
            q.op(ctx, qstate)
        return [(f"fresh-build {n}", ok, d) for n, ok, d in q.checks(ctx, qstate, [])]


# -- increment ---------------------------------------------------------------

class Increment:
    """Batches of new plus replayed conversations MERGEd into a restored
    copy of a base warehouse through ``run_incremental``."""

    name = "increment"
    sizes = gen.SIZES["increment"]
    round_size = 1
    min_ops = 1
    op_span = "op.batch"

    def prepare(self, ctx: Ctx) -> dict:
        return {}

    def setup(self, ctx: Ctx, rep: int, fixture: dict) -> dict:
        plan = gen.increment_plan(ctx.seed)
        # the base arrives as two loads, so the second one (a real
        # increment) warms the MERGE and anti-join paths before timing
        cut = len(plan.base) * 9 // 10
        base_parts = [gen.conversation_rows(idx, ctx.seed)
                      for idx in (plan.base[:cut], plan.base[cut:])]
        base_rows = base_parts[0] + base_parts[1]
        base_corpora = []
        for part, rows in enumerate(base_parts):
            path = os.path.join(ctx.work, f"inc-base-{rep}-{part}")
            shutil.rmtree(path, ignore_errors=True)
            gen.write_corpus(rows, path, self.sizes["files"], ctx.seed, f"base{part}")
            base_corpora.append(path)
        batches = []
        for b, batch in enumerate(plan.batches):
            new_rows = gen.conversation_rows(batch.new, ctx.seed)
            rows = new_rows + gen.conversation_rows(batch.replay, ctx.seed)
            path = os.path.join(ctx.work, f"inc-batch-{rep}-{b}")
            shutil.rmtree(path, ignore_errors=True)
            gen.write_corpus(rows, path, self.sizes["files"], ctx.seed, f"batch{b}")
            batches.append({"path": path, "new_rows": new_rows, "rows_in": len(rows)})
        return {
            "plan": plan, "base_rows": base_rows, "base_corpora": base_corpora,
            "batches": batches, "k": 0, "restores": 0,
        }

    def warmup(self, ctx: Ctx, state: dict) -> None:
        """Build the base warehouse, kept as the pristine copy."""
        pristine = os.path.join(ctx.work, "inc-pristine")
        catalog = LocalTableCatalog(pristine)
        for part, path in enumerate(state["base_corpora"]):
            _incremental_load(ctx, catalog, path, f"base-{part}", 0, 0)
        state["pristine"] = pristine

    def begin(self, ctx: Ctx, state: dict) -> None:
        """Restore a pristine copy of the base warehouse."""
        if "wh" in state:
            shutil.rmtree(state["wh"], ignore_errors=True)
        state["restores"] += 1
        wh = os.path.join(ctx.work, f"inc-wh-{state['restores']}")
        shutil.copytree(state["pristine"], wh)
        state["wh"], state["k"] = wh, 0

    def op(self, ctx: Ctx, state: dict) -> Op | None:
        k = state["k"]
        if k >= len(state["batches"]):
            return None
        batch, batch_plan = state["batches"][k], state["plan"].batches[k]
        t0 = time.perf_counter()
        with ctx.span("op.batch"):
            _incremental_load(ctx, LocalTableCatalog(state["wh"]), batch["path"],
                              f"batch-{k}", batch["rows_in"], len(batch_plan.new))
        latency = time.perf_counter() - t0
        state["k"] = k + 1
        return Op(latency, len(batch["new_rows"]), {"batch": k})

    def kernel_docs(self, state: dict):
        return gen.documents(state["batches"][0]["new_rows"])

    def warehouse_bytes(self, state: dict, ops: list[Op]) -> int:
        return tree_bytes(state["wh"])

    def checks(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        import duckdb

        catalog = LocalTableCatalog(state["wh"])
        got = triple_set(catalog)
        rows = list(state["base_rows"])
        for op in ops:
            rows.extend(state["batches"][op.detail["batch"]]["new_rows"])
        # The from-scratch reference over the union is the single-process
        # oracle: the build workload checks that a from-scratch Spark
        # build equals it, so equality here is equality with that build.
        want = oracle_triples([(c, t) for c, t, _n in gen.documents(rows)])
        out = [("triples==from-scratch-union", got == want,
                f"got {len(got)} want {len(want)} diff {len(got ^ want)}")]
        # Replayed conversations must be dropped by the anti-join: the
        # last batch's extraction holds only its new conversations, and
        # conv_seen holds each conversation once.
        last = state["batches"][ops[-1].detail["batch"]]
        want_ids = {r["conv_id"] for r in last["new_rows"]}
        n_convs = len({r["conv_id"] for r in rows})
        with duckdb.connect() as con:
            extracted = {r[0] for r in con.execute(
                "SELECT DISTINCT conv_id FROM read_parquet(?)",
                [_parquet_files(catalog, "extraction")]).fetchall()}
            seen, distinct_seen = con.execute(
                "SELECT count(*), count(DISTINCT conv_id) FROM read_parquet(?)",
                [_parquet_files(catalog, "conv_seen")]).fetchone()
        out.append(("replays-dropped", extracted <= want_ids and seen == distinct_seen == n_convs,
                    f"extracted {len(extracted)} of {len(want_ids)} new; "
                    f"conv_seen {seen} want {n_convs}"))
        return out

    def final_graph(self, state: dict, ops: list[Op]) -> tuple:
        return graph_snapshot(LocalTableCatalog(state["wh"]))

    def trace_extra(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        return []


# -- query -------------------------------------------------------------------

QUERY_BUILDERS = {
    "neighbors": lambda s, p: gq.neighbors(s, p["node_id"]),
    "top_communicators": lambda s, p: gq.top_communicators(s, p["k"]),
    "fast_flux_domains": lambda s, p: gq.fast_flux_domains(s, p["min_ips"]),
    "cve_hotlist": lambda s, p: gq.cve_hotlist(s, p["k"]),
    "top_degrees": lambda s, p: gq.degrees(s).orderBy(F.desc("degree"), "node_id").limit(p["k"]),
    "two_hop": lambda s, p: gq.two_hop(s, p["pred1"], p["pred2"]),
    "shared_infrastructure": lambda s, p: gq.shared_infrastructure(s),
    "flagship_query": lambda s, p: gq.flagship_query(s),
}

# The same questions in DuckDB SQL over the committed parquet snapshots.
# ``True`` marks results whose row order is part of the answer.
DUCKDB_SQL = {
    "neighbors": ("SELECT subj, pred, obj FROM triples WHERE subj = $node_id OR obj = $node_id", False),
    "top_communicators": (
        "SELECT subj AS malware, count(DISTINCT obj) AS n_infra FROM triples "
        "WHERE pred = 'COMMUNICATES_WITH' GROUP BY subj "
        "ORDER BY n_infra DESC, malware LIMIT $k", True),
    "fast_flux_domains": (
        "SELECT subj AS domain, count(DISTINCT obj) AS n_ips FROM triples "
        "WHERE pred = 'RESOLVES_TO' GROUP BY subj HAVING count(DISTINCT obj) >= $min_ips "
        "ORDER BY n_ips DESC, domain", True),
    "cve_hotlist": (
        "SELECT entity, count(*) AS count FROM (SELECT subj AS entity FROM triples "
        "UNION ALL SELECT obj FROM triples) WHERE starts_with(entity, 'Vulnerability_') "
        "GROUP BY entity ORDER BY count DESC, entity LIMIT $k", True),
    "top_degrees": (
        "WITH outs AS (SELECT subj AS node_id, count(*) AS out_degree FROM triples GROUP BY subj), "
        "ins AS (SELECT obj AS node_id, count(*) AS in_degree FROM triples GROUP BY obj) "
        "SELECT coalesce(outs.node_id, ins.node_id) AS node_id, coalesce(out_degree, 0), "
        "coalesce(in_degree, 0), coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree "
        "FROM outs FULL OUTER JOIN ins ON outs.node_id = ins.node_id "
        "ORDER BY degree DESC, node_id LIMIT $k", True),
    "two_hop": (
        "SELECT t1.subj, t1.pred, t1.obj, t2.pred, t2.obj FROM triples t1 "
        "JOIN triples t2 ON t1.obj = t2.subj WHERE t1.pred = $pred1 AND t2.pred = $pred2", False),
    "shared_infrastructure": (
        "SELECT DISTINCT t1.subj, t2.subj, t1.obj FROM triples t1 JOIN triples t2 "
        "ON t1.obj = t2.obj WHERE t1.pred = 'COMMUNICATES_WITH' "
        "AND t2.pred = 'COMMUNICATES_WITH' AND t1.subj < t2.subj", False),
    "flagship_query": (
        "SELECT subj, pred, obj FROM triples WHERE pred IN "
        "('COMMUNICATES_WITH', 'RESOLVES_TO', 'TARGETS') ORDER BY subj, pred, obj", True),
    "cypher:resolves": (
        "SELECT d.node_id AS domain, i.node_id AS ip FROM nodes d "
        "JOIN edges r ON r.src_id = d.node_id AND r.rel_type = 'RESOLVES_TO' "
        "JOIN nodes i ON r.dst_id = i.node_id "
        "WHERE d.node_label = 'Domain' AND i.node_label = 'Ipv4' "
        "ORDER BY domain, ip LIMIT 50", True),
    "cypher:communicators": (
        "SELECT i.node_id AS ip, count(DISTINCT m.node_id) AS n FROM nodes m "
        "JOIN edges r ON r.src_id = m.node_id AND r.rel_type = 'COMMUNICATES_WITH' "
        "JOIN nodes i ON r.dst_id = i.node_id WHERE i.node_label = 'Ipv4' "
        "GROUP BY ip ORDER BY n DESC, ip LIMIT 20", True),
    "cypher:url_hosts": (
        "SELECT d.node_id AS domain, count(DISTINCT i.node_id) AS n FROM nodes u "
        "JOIN edges r1 ON r1.src_id = u.node_id AND r1.rel_type = 'CONTAINS' "
        "JOIN nodes d ON r1.dst_id = d.node_id "
        "JOIN edges r2 ON r2.src_id = d.node_id AND r2.rel_type = 'RESOLVES_TO' "
        "JOIN nodes i ON r2.dst_id = i.node_id WHERE u.node_label = 'Url' "
        "AND d.node_label = 'Domain' AND i.node_label = 'Ipv4' "
        "GROUP BY domain ORDER BY n DESC, domain LIMIT 20", True),
}


def _query_key(template: str, params: dict) -> tuple:
    name = f"cypher:{params['name']}" if template == "cypher" else template
    return (name, tuple(sorted(params.items())) if template != "cypher" else ())


class Query:
    """A closed loop of one client over a committed graph: a seeded
    query sequence, each result fetched to the driver."""

    name = "query"
    sizes = gen.SIZES["query"]
    round_size = gen.ROUND
    # two rounds: with one, the class medians spread ~0.3 across seeds
    min_ops = 2 * gen.ROUND
    op_span = "op.query"

    def prepare(self, ctx: Ctx) -> dict:
        """Commit the graph the queries read (untimed; the build workload
        times this path and checks its audit). The traced run audits it
        too, so its spans cover the audit layer."""
        rows = gen.conversation_rows(range(self.sizes["convs"]), ctx.seed)
        corpus = os.path.join(ctx.work, "query-corpus")
        gen.write_corpus(rows, corpus, self.sizes["files"], ctx.seed, "query")
        catalog = LocalTableCatalog(os.path.join(ctx.work, "query-wh"))
        with ctx.span("op.commit"):
            audit = fresh_build(ctx, catalog, corpus, "graph", docs=self.sizes["convs"],
                                audit=ctx.tracer is not None)
        return {"rows": rows, "catalog": catalog, "audit": audit}

    def setup(self, ctx: Ctx, rep: int, fixture: dict) -> dict:
        """Open the committed graph for serving: register its views, rank
        nodes by degree and derive the seeded query sequence."""
        spark = ctx.spark
        gq.register_graph_views(spark, fixture["catalog"])
        ranked = gq.degrees(spark).orderBy(F.desc("degree"), "node_id").select("node_id").collect()
        seq = gen.query_sequence(ctx.seed, [r.node_id for r in ranked])
        return {**fixture, "seq": seq, "k": 0, "results": {}}

    def warmup(self, ctx: Ctx, state: dict) -> None:
        """The first round of the sequence; the window starts at the second.
        After only one run of each template, the first timed round read
        ~15% slower than the next."""
        for _ in range(gen.ROUND):
            self.op(ctx, state)
        state["start"] = state["k"]

    def _run(self, ctx: Ctx, cls: str, template: str, params: dict) -> list[tuple]:
        spark = ctx.spark
        if template == "cypher":
            text = gen.CYPHER_TEMPLATES[params["name"]]
            with ctx.span("cypher_lite.translate"):
                df = cypher_query(spark, text)
            with ctx.span("cypher_lite.exec"):
                rows = df.collect()
        else:
            with ctx.span(f"graph_queries.{template}"):
                rows = QUERY_BUILDERS[template](spark, params).collect()
        return [tuple(r) for r in rows]

    def op(self, ctx: Ctx, state: dict) -> Op:
        cls, template, params = state["seq"][state["k"] % len(state["seq"])]
        state["k"] += 1
        t0 = time.perf_counter()
        with ctx.span("op.query", cls=cls) as s:
            rows = self._run(ctx, cls, template, params)
            if s is not None:
                s.attrs["rows"] = len(rows)
        latency = time.perf_counter() - t0
        state["results"].setdefault(_query_key(template, params), []).append((params, rows))
        return Op(latency, 1, {"cls": cls})

    def begin(self, ctx: Ctx, state: dict) -> None:
        """Restart the sequence where the window starts; while tracing,
        re-register the graph views so the catalog reads are spanned too."""
        state["k"] = state.get("start", 0)
        if ctx.tracer is not None:
            for t in ("nodes", "edges", "triples", "metrics", "extraction"):
                if state["catalog"].exists(t):
                    _read(ctx, state["catalog"], t).createOrReplaceTempView(t)

    def kernel_docs(self, state: dict):
        return gen.documents(state["rows"])

    def warehouse_bytes(self, state: dict, ops: list[Op]) -> int:
        return tree_bytes(state["catalog"].root)

    def checks(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        import duckdb

        catalog = state["catalog"]
        out = [(f"audit {r['table']}:{r['check']}", r["passed"], str(r["violations"]))
               for r in state["audit"]]
        with duckdb.connect() as con:
            for t in ("triples", "nodes", "edges"):
                files = _parquet_files(catalog, t)
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})"
                )
            for key, runs in sorted(state["results"].items()):
                sql, ordered = DUCKDB_SQL[key[0]]
                params = {k: v for k, v in runs[0][0].items() if f"${k}" in sql}
                want = [tuple(r) for r in con.execute(sql, params).fetchall()]
                if not ordered:
                    want = sorted(want)
                bad = 0
                for _p, got in runs:
                    if (got if ordered else sorted(got)) != want:
                        bad += 1
                out.append((f"{key[0]}{dict(key[1]) if key[1] else ''}", bad == 0,
                            f"{len(runs)} runs, {bad} differ, {len(want)} rows"))
        return out

    def final_graph(self, state: dict, ops: list[Op]) -> tuple:
        return graph_snapshot(state["catalog"])

    def trace_extra(self, ctx: Ctx, state: dict, ops: list[Op]) -> list[tuple[str, bool, str]]:
        return []
