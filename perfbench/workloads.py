"""The benchmark's workloads: inputs from ``codegraph.gen``, one closed-loop
client, calls into ``codegraph``'s public API.

full_build
    One cold build of a multi-repo corpus through ``pipeline.run_pipeline``
    and ``materialize.write_graph`` into bucketed parquet, the way one CLI
    invocation builds a graph. Throughput-bound: extraction and linking
    grow with the corpus on top of the per-DAG fixed cost.
stream_ingest
    Per-repo parquet batches dropped one at a time into the drop directory;
    each drop runs ``streaming.start_ingest`` (availableNow) then
    ``streaming.compact`` until the compacted tables are readable. Latency
    per drop is dominated by the fixed per-micro-batch DAG, and the delta
    state grows through the run. Set-up builds the same repos from scratch
    with ``run_pipeline``: the fidelity reference, and the warm-up of the
    extraction and linking code the micro-batches run.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import checks
from spans import Tracer

# corpus shapes: (repos, files per repo)
SIZES = {
    "full_build": {"normal": (4, 64), "tiny": (2, 12)},
    "stream_ingest": {"normal": (1, 40), "tiny": (1, 12)},
}
# stream_ingest: the least and the most drops the timed loop makes
STREAM_MIN_DROPS = 2
STREAM_MAX_DROPS = 3

_COMMIT_LOG_ARROW = pa.schema([
    ("repo", pa.string()), ("hash", pa.string()),
    ("author_name", pa.string()), ("author_email", pa.string()),
    ("date", pa.timestamp("us", tz="UTC")), ("message", pa.string()),
    ("refs", pa.list_(pa.string())),
    ("changed_files", pa.list_(pa.struct([
        ("path", pa.string()), ("is_deleted", pa.bool_())]))),
])


def _write(pdf, path: str, schema=None) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)


def _content_bytes(pdf) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


def _sha_expected(pdf) -> dict[tuple, str]:
    import hashlib

    from codegraph import schema

    # only the files discovery keeps reach the files table
    keep = schema.INCLUDE_EXTENSIONS
    names = schema.FILENAME_HANDLERS
    out = {}
    for repo, path, content in zip(pdf["repo"], pdf["path"], pdf["content"]):
        low = path.lower()
        segs = low.split("/")
        if not (any(low.endswith(e) for e in keep) or segs[-1] in names):
            continue
        if any(s in schema.EXCLUDED_DIRS for s in segs[:-1]):
            continue
        out[(repo, path)] = hashlib.sha256(content.encode()).hexdigest()
    return out


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    triples: int = 0  # graph rows produced in the timed phase
    bytes_in: int = 0  # source content bytes handed in
    bytes_written: int = 0  # graph storage bytes written
    recall: float = 1.0
    precision: float = 1.0
    digests: dict[str, str] = field(default_factory=dict)
    layer_extra: dict[str, float] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# full_build
# ---------------------------------------------------------------------------


class FullBuild:
    name = "full_build"

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.repos, self.files = SIZES[self.name][scale]

    def setup(self) -> None:
        import pandas as pd

        from codegraph import gen

        n = self.repos
        self.source = pd.concat(
            [gen.gen_source_pdf(r, self.files, self.seed) for r in range(n)],
            ignore_index=True)
        inp = os.path.join(self.work, "input")
        os.makedirs(inp)
        self.paths = {k: os.path.join(inp, f"{k}.parquet") for k in
                      ("source", "commit_log", "assembly_refs", "pkg_metadata")}
        _write(self.source, self.paths["source"])
        _write(pd.concat([gen.gen_commit_log_pdf(r, self.files, self.seed)
                          for r in range(n)], ignore_index=True),
               self.paths["commit_log"], _COMMIT_LOG_ARROW)
        _write(gen.gen_assembly_refs_pdf(n, self.seed),
               self.paths["assembly_refs"])
        _write(gen.gen_pkg_metadata_pdf(), self.paths["pkg_metadata"])

    def run(self, seconds: float, corrupt: bool, tracer: Tracer) -> Result:
        self.tracer = tracer
        res = Result()
        out = os.path.join(self.work, "graph")
        res.attempted = 1
        t0 = time.time()
        try:
            if self.tracer.enabled:
                self._build_traced(out, res)
            else:
                self._build(out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            res.failed = 1
            res.errors.append(f"build: {e!r}")
        res.wall_s = time.time() - t0
        res.latencies = [res.wall_s]
        res.bytes_in = _content_bytes(self.source)
        if not res.failed:
            if corrupt:
                _drop_one_edge(os.path.join(out, "edges"))
            try:
                self._check(out, res)
            except Exception as e:  # noqa: BLE001 - an unreadable graph fails
                res.errors.append(f"check: {e!r}")
        return res

    def _inputs(self):
        r = self.spark.read.parquet
        return (r(self.paths["source"]), r(self.paths["commit_log"]),
                r(self.paths["assembly_refs"]), r(self.paths["pkg_metadata"]))

    def _build(self, out: str) -> None:
        from codegraph import materialize, pipeline

        src, cl, ar, pm = self._inputs()
        g = pipeline.run_pipeline(self.spark, src, commit_log=cl,
                                  assembly_refs=ar, pkg_metadata=pm)
        materialize.write_graph(g["nodes"], g["edges"], g["files"], out)
        self.spark.catalog.clearCache()

    def _build_traced(self, out: str, res: Result) -> None:
        """The same build, one span per layer call, each layer's output
        materialized (persist + count) at its boundary.

        ``run_pipeline(records=...)`` skips extraction but recomputes
        ``canon.dedup_symbols``, ``link.resolve_mentions``/``link_edges``
        and the ``gitmeta`` frames. The standalone canon, link and gitmeta
        spans before it persist their outputs, and Spark's cache serves the
        identical plans inside ``run_pipeline``; so the subtraction the
        trace uses is the cache itself: ``pipeline.*`` is the pipeline span
        as measured, which holds node/edge assembly plus whatever part of
        the recompute the cache does not match."""
        from pyspark.sql import functions as F

        from codegraph import canon, gitmeta, link, materialize, pipeline
        from codegraph.extract import dispatch
        from codegraph.extract import extract_records
        from codegraph.schema import ACC_ORDER

        tr = self.tracer
        src, cl, ar, pm = self._inputs()
        pipeline._gate_aqe(self.spark, src)  # what run_pipeline does first
        with tr.span("extract", "extract_records") as sp:
            files = pipeline.discover(src)
            target = self.spark.sparkContext.defaultParallelism
            if len(files.inputFiles()) < target:
                files = files.repartition(target)
            ts_projects = dispatch.scan_ts_projects(files)
            ts_configs = (dispatch.scan_ts_configs(files)
                          if ts_projects is not None else None)
            pkg_meta = dispatch.collect_pkg_meta(pm)
            if ts_projects is None:
                files = dispatch.attach_ts_projects(files)
            records = extract_records(files, ACC_ORDER["Private"], ts_projects,
                                      pkg_meta or {}, ts_configs=ts_configs)
            records = records.persist()
            by_rec = dict(records.groupBy("rec").count().collect())
            sp.rows_in = files.count()
            sp.rows_out = sum(by_rec.values())
        with tr.span("canon", "dedup_symbols") as sp:
            raw = records.filter(F.col("rec") == "symbol")
            symbols = canon.dedup_symbols(raw).persist()
            sp.rows_in = by_rec.get("symbol", 0)
            sp.rows_out = n_symbols = symbols.count()
        with tr.span("link", "resolve_mentions+link_edges") as sp:
            resolved = link.resolve_mentions(records, symbols).persist()
            rels = records.filter(F.col("rec") == "rel").select(
                "repo", "src_key", "dst_key", "rel_type")
            candidates = rels.unionByName(
                resolved.select("repo", "src_key", "dst_key", "rel_type"))
            linked = link.link_edges(candidates, symbols).persist()
            n_resolved = resolved.count()
            sp.rows_in = by_rec.get("mention", 0) + by_rec.get("rel", 0)
            sp.rows_out = n_linked = linked.count()
        with tr.span("gitmeta", "file_git_stats+commit_nodes_and_edges"
                     ) as sp:
            parts = [p.persist() for p in (gitmeta.file_git_stats(cl),
                                           *gitmeta.commit_nodes_and_edges(cl))]
            sp.rows_in = cl.count()
            sp.rows_out = sum(p.count() for p in parts)
        with tr.span("pipeline", "run_pipeline") as sp:
            g = pipeline.run_pipeline(self.spark, src, commit_log=cl,
                                      assembly_refs=ar, pkg_metadata=pm,
                                      records=records)
            tables = {k: g[k].persist() for k in ("nodes", "edges", "files")}
            counts = {k: t.count() for k, t in tables.items()}
            sp.rows_in = sum(by_rec.values())
            sp.rows_out = counts["nodes"] + counts["edges"]
        with tr.span("materialize", "write_graph") as sp:
            materialize.write_graph(tables["nodes"], tables["edges"],
                                    tables["files"], out)
            sp.rows_in = sum(counts.values())
            sp.rows_out = sum(
                pq.ParquetDataset(os.path.join(out, k)).read(
                    columns=["repo"]).num_rows for k in counts)
        self.spark.catalog.clearCache()
        n_files = max(1, len(_sha_expected(self.source)))
        n_sym = by_rec.get("symbol", 0)
        n_mention = by_rec.get("mention", 0)
        n_cand = by_rec.get("rel", 0) + n_resolved
        b, f = checks.dir_stats(out)
        res.layer_extra = {
            "extract.records_per_file": sum(by_rec.values()) / n_files,
            "canon.dedup_ratio": n_symbols / n_sym if n_sym else 1.0,
            "link.resolve_ratio": n_resolved / n_mention if n_mention else 1.0,
            "link.keep_ratio": n_linked / n_cand if n_cand else 1.0,
            "materialize.bytes_written": b,
            "materialize.files_written": f,
        }

    def _check(self, out: str, res: Result) -> None:
        node_rows = checks.read_table(os.path.join(out, "nodes"),
                                      ["repo", "label", "key"])
        edge_rows = checks.read_table(
            os.path.join(out, "edges"),
            ["repo", "src_key", "rel_type", "dst_key"])
        files = checks.read_table(os.path.join(out, "files"),
                                  ["repo", "path", "sha256"])
        res.triples = len(node_rows["repo"]) + len(edge_rows["repo"])
        nodes = checks.node_triples(node_rows)
        edges = checks.edge_triples(edge_rows)
        res.bytes_written, _ = checks.dir_stats(out)
        bad_sha = checks.sha_mismatches(files, _sha_expected(self.source))
        if bad_sha:
            res.errors.append(f"{bad_sha} files with a wrong or missing sha256")
        bad = checks.dangling(nodes, edges)
        if bad:
            res.errors.append(f"{len(bad)} dangling edges, e.g. {bad[0]}")
        missing = checks.undeclared(nodes, edges)
        if missing:
            res.errors.append(f"{len(missing)} symbols without DECLARES, "
                              f"e.g. {missing[0]}")
        if not nodes or not edges:
            res.errors.append("empty graph")
        # the graph is itself a from-scratch build of the final corpus
        res.recall = res.precision = 1.0
        res.digests = {"graph": checks.digest(nodes | edges)}


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest:
    name = "stream_ingest"

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        _, self.files = SIZES[self.name][scale]
        self.drop = os.path.join(work, "drop")
        self.out = os.path.join(work, "graph")
        self.ckpt = os.path.join(work, "checkpoint")
        self.next_repo = 0

    def setup(self) -> None:
        """Generate the repo pool and build the from-scratch reference."""
        import pandas as pd

        from codegraph import gen, pipeline

        self.pool = [gen.gen_source_pdf(r, self.files, self.seed)
                     for r in range(STREAM_MAX_DROPS)]
        ref_src = os.path.join(self.work, "reference_source.parquet")
        _write(pd.concat(self.pool, ignore_index=True), ref_src)
        g = pipeline.run_pipeline(self.spark, self.spark.read.parquet(ref_src))
        sym = g["symbols"].select("repo", "key").toPandas()
        lk = g["linked"].select("repo", "src_key", "rel_type",
                                "dst_key").toPandas()
        self.spark.catalog.clearCache()
        self.ref_nodes = {(r, checks.SYMBOL, k)
                          for r, k in zip(sym["repo"], sym["key"])}
        self.ref_edges = checks.edge_triples(lk)
        os.makedirs(self.drop)

    def _delta_rows(self) -> int:
        return sum(len(checks.read_table(os.path.join(self.out, t),
                                         ["repo"])["repo"])
                   for t in ("symbols_delta", "edges_delta"))

    def _drop_once(self) -> tuple[float, int]:
        """Hand in one repo's files and wait until the compacted tables are
        readable; returns (latency, source bytes handed in)."""
        from codegraph import streaming

        pdf = self.pool[self.next_repo]
        name = f"repo-{self.next_repo:03d}.parquet"
        self.next_repo += 1
        tr = self.tracer
        t0 = time.time()
        # write beside, then rename: the file source never sees a partial file
        tmp = os.path.join(self.work, name)
        _write(pdf, tmp)
        os.rename(tmp, os.path.join(self.drop, name))
        with tr.span("streaming", "start_ingest") as sp:
            before = self._delta_rows() if sp else 0
            q = streaming.start_ingest(self.spark, self.drop, self.out,
                                       self.ckpt)
            if sp:
                sp.groups.append(str(q.runId))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            if sp:
                sp.rows_in = len(pdf)
                sp.rows_out = self._delta_rows() - before
        with tr.span("streaming", "compact") as sp:
            s, e = streaming.compact(self.spark, self.out)
            n_rows = s.count() + e.count()
            if sp:
                sp.rows_in = self._delta_rows()
                sp.rows_out = n_rows
        return time.time() - t0, _content_bytes(pdf)

    def run(self, seconds: float, corrupt: bool, tracer: Tracer) -> Result:
        self.tracer = tracer
        res = Result()
        rows0 = self._delta_rows()
        bytes0, _ = checks.dir_stats(self.out)
        t0 = time.time()
        while self.next_repo < len(self.pool) and (
                res.attempted < STREAM_MIN_DROPS or time.time() - t0 < seconds):
            res.attempted += 1
            try:
                lat, n_bytes = self._drop_once()
                res.latencies.append(lat)
                res.bytes_in += n_bytes
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                res.failed += 1
                res.errors.append(f"drop {res.attempted}: {e!r}")
        res.wall_s = time.time() - t0
        res.triples = self._delta_rows() - rows0
        res.bytes_written = checks.dir_stats(self.out)[0] - bytes0
        if corrupt:
            _drop_one_edge(os.path.join(self.out, "edges_delta"))
        try:
            self._check(res)
        except Exception as e:  # noqa: BLE001 - an unreadable graph fails
            res.errors.append(f"check: {e!r}")
        if self.tracer.enabled:
            compacts = [sp.end - sp.start for sp in self.tracer.spans
                        if sp.call == "compact"]
            res.layer_extra = {
                "streaming.delta_rows": self._delta_rows(),
                "streaming.compact_s": statistics.median(compacts),
            }
        return res

    def _check(self, res: Result) -> None:
        """Compacted state against the reference build, restricted to the
        repos handed in (graph universes are per repo)."""
        from codegraph import streaming

        s, e = streaming.compact(self.spark, self.out)
        sym = s.select("repo", "key").toPandas()
        lk = e.toPandas()
        nodes = {(r, checks.SYMBOL, k) for r, k in zip(sym["repo"], sym["key"])}
        edges = checks.edge_triples(lk)
        keys = {(r, k) for r, _l, k in nodes}
        bad = [x for x in edges if (x[0], x[1]) not in keys]
        if bad:
            res.errors.append(f"{len(bad)} edges from unknown symbols, "
                              f"e.g. {bad[0]}")
        repos = {p["repo"].iloc[0] for p in self.pool[:self.next_repo]}
        got = nodes | edges
        if {t[0] for t in got} != repos:
            res.errors.append("compacted repos differ from the repos handed in")
        ref = {t for t in self.ref_nodes | self.ref_edges if t[0] in repos}
        res.recall, res.precision = checks.recall_precision(got, ref)
        res.digests = {r: checks.digest(t for t in got if t[0] == r)
                       for r in sorted(repos)}


def _drop_one_edge(table_dir: str) -> None:
    """Self-test hook: delete one DECLARES edge (any edge if there is none)
    from a written edge table, rewriting the parquet file that held it."""
    for root, _dirs, names in sorted(os.walk(table_dir)):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            t = pq.read_table(path)
            if t.num_rows == 0:
                continue
            rels = t.column("rel_type").to_pylist()
            idx = rels.index(checks.DECLARES) if checks.DECLARES in rels else 0
            pq.write_table(pa.concat_tables([t.slice(0, idx),
                                             t.slice(idx + 1)]), path)
            crc = os.path.join(root, f".{name}.crc")  # now stale
            if os.path.exists(crc):
                os.remove(crc)
            return
    raise RuntimeError(f"no edge rows under {table_dir}")


WORKLOADS = {w.name: w for w in (FullBuild, StreamIngest)}
