"""The benchmark's workloads: one pass of operations each, and their checks.

A workload builds the operations of one pass over inputs drawn from the
seed. Each operation's ``run`` is the timed part: it calls into the
engine through its public functions and returns a small, fully
materialized output. ``verify`` runs after the timed passes and checks
every recorded output, so checking never counts in a latency.

Every call into an engine layer goes through ``tracer.span``, which is
a no-op unless the run is traced.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import gen

#: Star-schema scale factor of ``sql_mix`` (lineitem has 6M x sf rows).
SQL_MIX_SF = 0.01
#: Registry modules whose queries make up ``sql_mix``.
SQL_MIX_MODULES = (
    "relational", "relational_ext", "tpch_shapes", "events", "bloom", "governance",
)
#: ``sql_mix`` runs every SQL_MIX_STRIDE-th of those queries, by name.
SQL_MIX_STRIDE = 20
#: Rows per year in the flights CSV pair of the reference pipeline.
FLIGHT_ROWS = 2_000

#: ``ingest_serve`` corpus: documents (and as many vectors), batches,
#: vocabulary of the synthetic documents, and serve term tuples.
CORPUS_ROWS = 1_000
BATCHES = 2
CORPUS_VOCAB = 2_000
SERVE_TUPLES = 2
SERVE_TERMS = 3
#: Target rows per embed-store bucket at the registry's granularity
#: (500 vectors over 2**NEAR_DUP_PLANES buckets); see ``embed_planes``.
EMBED_BUCKET_ROWS = 32


class CheckFailed(Exception):
    """An operation's output differs from its reference."""


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], Any]
    #: ``check(output)`` raises CheckFailed on a wrong output.
    check: Callable[[Any], None] | None = None


@dataclass
class Record:
    name: str
    kind: str
    pass_no: int
    latency_s: float
    output: Any = None
    error: str | None = None


@dataclass
class PassResult:
    records: list[Record] = field(default_factory=list)
    wall_s: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _forced_rows(tracer, df) -> tuple[list[str], list[tuple]]:
    """Plan, then run the action; each in its own layer span."""
    with tracer.span("plans.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.action"):
        return df.columns, _rows(df)


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, sidecars included."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# sql_mix
# ---------------------------------------------------------------------------


def sql_mix_names(registry) -> list[str]:
    names = sorted(
        n for n, q in registry.items()
        if q.fn.__module__.rsplit(".", 1)[1] in SQL_MIX_MODULES
    )
    return names[::SQL_MIX_STRIDE]


class SqlMix:
    name = "sql_mix"
    #: each operation runs once per pass, so a first pass in a fresh JVM
    #: times code generation and compilation, not the queries
    warmup_passes = 1
    #: seconds of one warm pass on a 4-core host; sets the timed passes
    nominal_pass_s = 9.0

    def __init__(self, spark, registry, tracer, seed: int, data_root: str):
        self.spark, self.registry, self.tracer = spark, registry, tracer
        self.star = gen.star_dir(data_root, seed, SQL_MIX_SF)
        self.flights = gen.flights_dir(data_root, seed, FLIGHT_ROWS)
        self.names = sql_mix_names(registry)
        self._oracle: dict[str, list[tuple]] = {}
        self._silhouettes_path = f"{self.flights}/silhouettes.json"
        self._con = None

    def begin_pass(self) -> None:
        pass

    def end_pass(self, result: PassResult) -> None:
        pass

    def ops(self, rng: random.Random) -> list[Op]:
        """The queries by name, then the pipeline, in the same order for
        every seed: in a fresh JVM the first operations pay for warming
        their code paths, and a seeded order would move that cost from
        operation to operation between seeds."""
        ops = [
            Op(f"query:{n}", "query", self._query_run(n), self._query_check(n))
            for n in self.names
        ]
        ops.append(Op("pipeline:flights", "pipeline", self._pipeline_run,
                      self._pipeline_check))
        return ops

    def _query_run(self, name: str):
        fn = self.registry[name].fn

        def run():
            with self.tracer.span("queries.build"):
                df = fn(self.spark, self.star)
            return _forced_rows(self.tracer, df)

        return run

    def _duck(self):
        if self._con is None:
            import duckdb

            from bigdata_flightanalysis_spark.schemas import TABLE_NAMES

            self._con = duckdb.connect()
            for t in TABLE_NAMES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.star}/{t}.parquet'"
                )
            for year in ("2019", "2023"):
                self._con.execute(
                    f"CREATE VIEW flights_{year} AS SELECT * FROM read_csv("
                    f"'{self.flights}/{year}.csv', header=true, all_varchar=true)"
                )
        return self._con

    def _query_check(self, name: str):
        from bigdata_flightanalysis_spark.parity import rows_sorted

        def check(output):
            cols, rows = output
            if name not in self._oracle:
                rel = self._duck().execute(self.registry[name].oracle)
                dcols = [d[0] for d in rel.description]
                self._oracle[name] = (dcols, rows_sorted(dcols, rel.fetchall()))
            dcols, drows = self._oracle[name]
            if sorted(cols) != sorted(dcols):
                raise CheckFailed(f"{name}: columns {sorted(cols)} vs {sorted(dcols)}")
            if rows_sorted(cols, rows) != drows:
                raise CheckFailed(f"{name}: rows differ from the DuckDB oracle")

        return check

    def _pipeline_run(self):
        from bigdata_flightanalysis_spark.pipeline import flights
        from bigdata_flightanalysis_spark.schemas import (
            FLIGHTS_2019_TYPED,
            FLIGHTS_2023_TYPED,
        )
        from bigdata_flightanalysis_spark.sources.readers import read_csv

        tr = self.tracer
        with tr.span("pipeline.run"):
            raw19 = read_csv(self.spark, f"{self.flights}/2019.csv", FLIGHTS_2019_TYPED)
            raw23 = read_csv(self.spark, f"{self.flights}/2023.csv", FLIGHTS_2023_TYPED)
            res = flights.run_flight_pipeline(raw19, raw23, mode="idiomatic", k=5, seed=42)
            try:
                _, reasons = _forced_rows(tr, res.reasons_2023)
                _, top = _forced_rows(tr, res.top_airlines_2023)
            finally:
                res.unpersist()
        return {
            "silhouettes": [res.silhouette_2019, res.silhouette_2023],
            "reasons_2023": reasons,
            "top_airlines_2023": top,
        }

    def _pipeline_check(self, out) -> None:
        con = self._duck()
        # every (cluster, reason) count is listed: 4 reasons <= the
        # per-cluster top-4, so summing over clusters gives the totals
        totals: dict[str, int] = {}
        for _pred, reason, count, *_ in out["reasons_2023"]:
            totals[reason] = totals.get(reason, 0) + count
        want = dict(con.execute(
            "SELECT coalesce(DelayReason, 'None'), count(*) FROM flights_2023 GROUP BY 1"
        ).fetchall())
        if totals != want:
            raise CheckFailed(f"reasons_2023 totals {totals} vs {want}")
        top = [(a, c) for a, c in out["top_airlines_2023"]]
        want_top = [tuple(r) for r in con.execute(
            "SELECT coalesce(Airline, 'Not Listed') AS a, count(*) AS c "
            "FROM flights_2023 WHERE Cancelled = 'True' "
            "GROUP BY a ORDER BY c DESC, a ASC LIMIT 5"
        ).fetchall()]
        if top != want_top:
            raise CheckFailed(f"top airlines {top} vs {want_top}")
        # silhouettes are a pure function of the seed: identical in every
        # pass of every run with this seed
        sil = out["silhouettes"]
        if os.path.exists(self._silhouettes_path):
            with open(self._silhouettes_path) as f:
                first = json.load(f)
            if first != sil:
                raise CheckFailed(f"silhouettes {sil} differ from {first}")
        else:
            tmp = f"{self._silhouettes_path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(sil, f)
            os.replace(tmp, self._silhouettes_path)


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def embed_planes(store_rows: int) -> int:
    """Planes for an embed store of ``store_rows`` vectors, by the rule
    in ``incremental_embed_near_dup_pairs``: about
    log2(store rows / target bucket size), never below the registry's
    NEAR_DUP_PLANES."""
    from bigdata_flightanalysis_spark.queries.similarity import NEAR_DUP_PLANES

    return max(NEAR_DUP_PLANES, round(math.log2(store_rows / EMBED_BUCKET_ROWS)))


def union_find_labels(pairs) -> dict[int, int]:
    """Node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _canon_pairs(rows) -> set[tuple[int, int]]:
    return {(min(a, b), max(a, b)) for a, b, *_ in rows}


class IngestServe:
    name = "ingest_serve"
    #: every operation kind repeats within a pass (per batch, per round
    #: of serves), so the pass warms itself; a second pass does not fit
    #: the run budget
    warmup_passes = 0
    #: seconds of one (cold) pass on a 4-core host; sets the timed passes
    nominal_pass_s = 30.0

    def __init__(self, spark, registry, tracer, seed: int, data_root: str):
        self.spark, self.registry, self.tracer = spark, registry, tracer
        self.corpus = _corpus_dir(data_root, seed)
        self.input_bytes = _dir_usage(self.corpus)[0]
        self.state = f"{data_root}/tmp/ingest_{os.getpid()}"
        self.planes = embed_planes(CORPUS_ROWS)
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(CORPUS_VOCAB)]
        self.tuples = [tuple(rng.sample(vocab, SERVE_TERMS)) for _ in range(SERVE_TUPLES)]
        self._refs: dict[str, Any] = {}
        self._pass_pairs: list[tuple] = []

    # -- inputs -------------------------------------------------------------

    def _docs(self, lo: int, hi: int):
        df = self.spark.read.schema(_DOCS_SCHEMA).parquet(f"{self.corpus}/docs")
        return df.filter((df.doc_id >= lo) & (df.doc_id < hi))

    def _vecs(self, lo: int, hi: int):
        df = self.spark.read.schema(_VECS_SCHEMA).parquet(f"{self.corpus}/vecs")
        return df.filter((df.vec_id >= lo) & (df.vec_id < hi))

    def _bounds(self) -> list[tuple[int, int]]:
        per = CORPUS_ROWS // BATCHES
        return [(b * per, CORPUS_ROWS if b == BATCHES - 1 else (b + 1) * per)
                for b in range(BATCHES)]

    def _paths(self, root: str) -> dict[str, str]:
        return {k: f"{root}/{k}" for k in ("fp", "bands", "embed", "index")}

    # -- one pass -----------------------------------------------------------

    def begin_pass(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self.state)
        self._pass_pairs = []

    def end_pass(self, result: PassResult) -> None:
        p = self._paths(self.state)
        store_bytes, store_files = _dir_usage(self.state)
        index_files = _dir_usage(p["index"])[1]
        ingested = sum(
            r.latency_s for r in result.records
            if r.kind == "ingest" and r.error is None
        )
        result.extra.update(
            store_bytes=store_bytes,
            store_files=store_files,
            index_files=index_files,
            store_bytes_per_input_byte=store_bytes / self.input_bytes,
            ingest_rows_per_s=CORPUS_ROWS / ingested if ingested else 0.0,
        )

    def ops(self, rng: random.Random) -> list[Op]:
        """Batches in id order (each batch's ops depend on the stores the
        earlier ones extended), each followed by a round of serves. The
        pass ends with a compaction, a last round of serves, and the
        connected components of every near-dup pair the batches emitted.
        The seed orders the serves of each round."""
        from bigdata_flightanalysis_spark.operators.incremental import (
            incremental_embed_near_dup_pairs,
            incremental_exact_dedup,
            incremental_near_dup_pairs,
        )
        from bigdata_flightanalysis_spark.queries.retrieval import (
            build_text_index_from,
            refresh_text_index,
        )

        sp, tr, p = self.spark, self.tracer, self._paths(self.state)
        ops: list[Op] = []
        for b, (lo, hi) in enumerate(self._bounds()):
            def exact(lo=lo, hi=hi):
                with tr.span("operators.exact_dedup"):
                    df = incremental_exact_dedup(sp, self._docs(lo, hi), p["fp"])
                with tr.span("spark.action"):
                    return sorted(r[0] for r in df.select("doc_id").collect())

            def near(lo=lo, hi=hi):
                with tr.span("operators.near_dup"):
                    df = incremental_near_dup_pairs(sp, self._docs(lo, hi), p["bands"])
                with tr.span("spark.action"):
                    pairs = _rows(df)
                self._pass_pairs.extend(pairs)
                return pairs

            def embed(lo=lo, hi=hi):
                with tr.span("operators.embed_near_dup"):
                    df = incremental_embed_near_dup_pairs(
                        sp, self._vecs(lo, hi), p["embed"], n_planes=self.planes
                    )
                with tr.span("spark.action"):
                    return _rows(df.select("vec_a", "vec_b"))

            def index(lo=lo, hi=hi, first=(b == 0)):
                if first:
                    with tr.span("retrieval.build"):
                        build_text_index_from(sp, self._docs(lo, hi), p["index"])
                else:
                    with tr.span("retrieval.refresh"):
                        refresh_text_index(sp, self._docs(lo, hi), p["index"])

            ops += [
                # the three dedup outputs are checked together, per pass,
                # in verify_pass; the index is checked through the serves
                Op(f"exact_dedup[{b}]", "ingest", exact),
                Op(f"near_dup[{b}]", "ingest", near),
                Op(f"embed_near_dup[{b}]", "ingest", embed),
                Op(f"index[{b}]", "ingest", index),
            ]
            ops += self._serves(rng, f"b{b}", hi)
        ops.append(Op("compact", "maintain", self._compact))
        ops += self._serves(rng, "compacted", CORPUS_ROWS)
        ops.append(Op("connected_components", "maintain", self._components,
                      self._check_components))
        return ops

    def _serves(self, rng, tag: str, prefix_hi: int) -> list[Op]:
        from bigdata_flightanalysis_spark.queries.retrieval import serve_bm25_topk

        idx = self._paths(self.state)["index"]
        order = list(range(len(self.tuples)))
        rng.shuffle(order)
        out = []
        for t in order:
            terms = self.tuples[t]

            def serve(terms=terms):
                with self.tracer.span("retrieval.serve"):
                    df = serve_bm25_topk(self.spark, idx, terms)
                with self.tracer.span("spark.action"):
                    return _rows(df)

            out.append(Op(f"serve[{tag}][{t}]", "serve", serve,
                          self._serve_check(prefix_hi, t)))
        return out

    def _compact(self):
        from bigdata_flightanalysis_spark.queries.retrieval import compact_text_index

        with self.tracer.span("retrieval.compact"):
            compact_text_index(self.spark, self._paths(self.state)["index"])

    def _components(self):
        from bigdata_flightanalysis_spark.operators.graph import connected_components

        pairs = sorted(_canon_pairs(self._pass_pairs))
        edges = self.spark.createDataFrame(pairs, "src long, dst long")
        with self.tracer.span("operators.connected_components"):
            cc = connected_components(edges)
        with self.tracer.span("spark.action"):
            return pairs, dict(_rows(cc))

    # -- checks (after the timed passes) -------------------------------------

    def _duck(self, prefix_hi: int):
        """DuckDB over the corpus documents with doc_id < prefix_hi, as
        the ``documents`` and ``embeddings`` views the engine's SQL twins
        read."""
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{self.corpus}/docs/*.parquet') WHERE doc_id < {prefix_hi}"
        )
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            f"'{self.corpus}/vecs/*.parquet') WHERE vec_id < {prefix_hi}"
        )
        return con

    def _reference(self) -> dict[str, Any]:
        """Batch results over the whole corpus, computed once per run:
        exact-dedup survivors and the serves over each batch prefix from
        the engine's DuckDB twins; near-dup pairs from one engine call
        over the whole corpus into fresh stores."""
        if self._refs:
            return self._refs
        from bigdata_flightanalysis_spark.functions.text import SQL_FINGERPRINT
        from bigdata_flightanalysis_spark.operators.incremental import (
            incremental_embed_near_dup_pairs,
            incremental_near_dup_pairs,
        )

        con = self._duck(CORPUS_ROWS)
        self._refs["exact"] = {r[0] for r in con.execute(
            f"SELECT min(doc_id) FROM documents GROUP BY {SQL_FINGERPRINT}"
        ).fetchall()}
        # near-dup pairs: one batch over the whole corpus into fresh stores
        root = f"{self.state}_ref"
        shutil.rmtree(root, ignore_errors=True)
        p, sp, n = self._paths(root), self.spark, CORPUS_ROWS
        try:
            self._refs["near"] = _canon_pairs(_rows(
                incremental_near_dup_pairs(sp, self._docs(0, n), p["bands"])))
            self._refs["embed"] = _canon_pairs(_rows(
                incremental_embed_near_dup_pairs(
                    sp, self._vecs(0, n), p["embed"], n_planes=self.planes
                ).select("vec_a", "vec_b")))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        serves = {}
        for _, hi in self._bounds():
            con = self._duck(hi)
            for t, terms in enumerate(self.tuples):
                serves[(hi, t)] = [tuple(r) for r in con.execute(bm25_sql(terms)).fetchall()]
        self._refs["serve"] = serves
        return self._refs

    def verify_pass(self, records: list[Record]) -> None:
        """Incremental-vs-batch checks over one pass's ingest outputs: the
        union over batches must equal the batch result over the corpus."""
        ref = self._reference()
        got = {"exact_dedup": set(), "near_dup": set(), "embed_near_dup": set()}
        for r in records:
            kind = r.name.split("[", 1)[0]
            if kind in got and r.error is None:
                got[kind] |= set(r.output) if kind == "exact_dedup" else _canon_pairs(r.output)
        for kind, want in (("exact_dedup", ref["exact"]), ("near_dup", ref["near"]),
                           ("embed_near_dup", ref["embed"])):
            if got[kind] == want:
                continue
            for r in records:
                if r.name.startswith(kind + "[") and r.error is None:
                    r.error = (f"CheckFailed: union of incremental {kind} outputs "
                               f"({len(got[kind])}) differs from the batch result "
                               f"({len(want)})")

    def _serve_check(self, prefix_hi: int, t: int):
        def check(rows):
            want = self._reference()["serve"][(prefix_hi, t)]
            if rows != want:
                raise CheckFailed(
                    f"serve {self.tuples[t]} over docs < {prefix_hi}: "
                    f"{rows[:2]}... vs DuckDB {want[:2]}..."
                )

        return check

    def _check_components(self, out) -> None:
        pairs, labels = out
        if labels != union_find_labels(pairs):
            raise CheckFailed("component labels differ from union-find over the same pairs")


def bm25_sql(terms: tuple[str, ...]) -> str:
    """DuckDB twin of ``serve_bm25_topk(terms)``: the registry's BM25
    oracle shape (log-free idf, fixed term order) for any terms."""
    from bigdata_flightanalysis_spark.functions.text import SQL_TOKENS
    from bigdata_flightanalysis_spark.queries.retrieval import (
        BM25_B,
        BM25_K1,
        BM25_TOPK,
    )

    def d(x) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN list_contains(t, '{w}') THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, w in enumerate(terms))
    tfs = ", ".join(f"len(list_filter(t, x -> x = '{w}')) AS tf{i}"
                    for i, w in enumerate(terms))
    score = " + ".join(
        f"((CAST(n_docs - df{i} AS DOUBLE) + {d(0.5)}) / (CAST(df{i} AS DOUBLE) + {d(0.5)}))"
        f" * ((CAST(tf{i} AS DOUBLE) * {d(BM25_K1 + 1.0)}) / (CAST(tf{i} AS DOUBLE)"
        f" + {d(BM25_K1)} * ({d(1.0 - BM25_B)} + {d(BM25_B)} * (CAST(dl AS DOUBLE) / avgdl))))"
        for i in range(len(terms)))
    return f"""
        WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS t, len({SQL_TOKENS}) AS dl
                      FROM documents),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {dfs} FROM toks),
        tf AS (SELECT doc_id, dl, {tfs} FROM toks)
        SELECT doc_id, {score} AS bm25_score FROM tf CROSS JOIN stats
        WHERE {score} > 0 ORDER BY bm25_score DESC, doc_id LIMIT {BM25_TOPK}
    """


_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_VECS_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _corpus_dir(data_root: str, seed: int) -> str:
    """The ingest corpus: the rows the engine's registered
    ``synthetic_docs`` / ``synthetic_embeddings`` sources produce for
    ``seed`` (their row functions, called in-process), cached as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_flightanalysis_spark.sources.pydatasource import (
        _EMB_DIM,
        _doc_row,
        _emb_row,
    )

    def write(tmp: str) -> None:
        ids = range(CORPUS_ROWS)
        docs = list(zip(*(_doc_row(seed, i, CORPUS_VOCAB) for i in ids)))
        vecs = list(zip(*(_emb_row(seed, i, _EMB_DIM) for i in ids)))
        os.makedirs(f"{tmp}/docs")
        os.makedirs(f"{tmp}/vecs")
        pq.write_table(pa.table({
            "doc_id": pa.array(docs[0], pa.int64()), "text": docs[1],
            "lang": docs[2], "source": docs[3],
            "n_chars": pa.array(docs[4], pa.int64()),
        }), f"{tmp}/docs/part-0.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(vecs[0], pa.int64()),
            "embedding": pa.array(vecs[1], pa.list_(pa.float32())),
            "label": pa.array(vecs[2], pa.int32()),
        }), f"{tmp}/vecs/part-0.parquet")

    return gen.publish(f"{data_root}/corpus_s{seed}_n{CORPUS_ROWS}_v{CORPUS_VOCAB}", write)


WORKLOADS = {"sql_mix": SqlMix, "ingest_serve": IngestServe}
