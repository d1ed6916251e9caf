"""The benchmark's workloads: seeded inputs, a pass through the program,
the oracle answer and the output check.

Inputs are generated by this file without Spark and written as parquet, so
the program receives only files. Oracle answers come from the repository's
independent implementations (``kglinker.oracle`` for the pipeline, DuckDB
over ``Query.sql`` for the registry queries); they are computed outside
every timed region and cached under the work directory, keyed by the seed
and a digest of the program and benchmark sources.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import statistics
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")


def source_digest(root: str) -> str:
    """sha256 over the Python sources of the program and the benchmark and
    the benchmark's data; oracle caches are only reused by the exact code
    and data that wrote them."""
    h = hashlib.sha256()
    for top in ("kglinker", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(files):
                if f.endswith((".py", ".parquet")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class Cache:
    """Pickled oracle answers; entries written under another source digest
    are deleted, so the directory only holds answers the code can use."""

    def __init__(self, cache_dir: str, digest: str):
        self.dir = cache_dir
        self.digest = digest
        os.makedirs(cache_dir, exist_ok=True)
        for f in os.listdir(cache_dir):
            if not f.endswith(f"-{digest}.pickle"):
                os.remove(os.path.join(cache_dir, f))

    def get_or_compute(self, key: str, compute):
        path = os.path.join(self.dir, f"{key}-{self.digest}.pickle")
        if os.path.exists(path):
            # written by this benchmark under the same source digest
            with open(path, "rb") as fh:
                return pickle.load(fh)
        value = compute()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(value, fh, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, path)
        return value


def _write_parts(table, path: str) -> None:
    """Write ``table`` as INPUT_FILES parquet files of consecutive rows, a
    table directory with several scan splits like a landed table."""
    import pyarrow.parquet as pq
    os.makedirs(path)
    step = -(-table.num_rows // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"),
                       coerce_timestamps="us")


# -- pipeline ---------------------------------------------------------------------

N_CONVS = 1000        # ~7k turns
N_GEN_KB = 2000       # generated KB rows on top of the 29-row fixture
N_BUCKETS = 8         # run_pipeline's default bucket count
SAMPLE_CONVS = 300    # fixed turn sample of the single-process probes
INPUT_FILES = 4       # parquet files per pipeline input table

_GIVEN_M = ["Jan", "Petr", "Karel", "Tomáš", "Josef", "Václav", "Antonín",
            "Jiří", "Milan", "Pavel"]
_GIVEN_F = ["Anna", "Marie", "Eva", "Božena", "Eliška", "Klára"]
_TOWNS = ["Ostrava", "Plzeň", "Olomouc", "Liberec", "Budějovice", "Hradec",
          "Pardubice", "Zlín", "Tábor", "Opava"]
_SYLLABLES = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ko"]


def gen_kb_rows(n: int, first_id: int) -> list[dict]:
    """``n`` KB rows shaped like ``kglinker/jobs/kb_scale_probe.py``:
    persons with two-word Czech-style names and an initial-dot alias, and
    every tenth row a settlement. Surnames spell the row number in octal
    over a shuffled syllable alphabet, so every name is unique while the
    sixteen given names make long first-token probe lists. The rows do not
    depend on the workload seed: the KB is a fixed snapshot, the corpus
    varies."""
    rng = random.Random("perfbench-kb")
    syl = _SYLLABLES[:]
    rng.shuffle(syl)
    rows = []
    for i in range(n):
        kb_id = first_id + i
        url = f"https://kb.example/gen/{kb_id}"
        base = dict(kb_id=kb_id, disambiguation_name="", aliases="",
                    redirects="", gender="", date_of_birth="",
                    date_of_death="", jobs="", nationality="", location="",
                    country="", source_loc="", founded="", cancelled="",
                    start="", end="", wiki_url=url,
                    wiki_backlinks=rng.randrange(1, 1000),
                    wiki_hits=rng.randrange(1, 10000),
                    wiki_ps=rng.randrange(1, 100))
        body = "".join(syl[int(d)] for d in oct(i)[2:]).capitalize()
        if i % 10 == 9:
            name = f"{rng.choice(_TOWNS)} {body}"
            rows.append({**base, "type": "settlement", "name": name,
                         "description": f"{name} is a town.",
                         "country": "Czechia"})
            continue
        fem = rng.randrange(3) == 0
        given = rng.choice(_GIVEN_F if fem else _GIVEN_M)
        surname = body + ("ková" if fem else "k")
        name = f"{given} {surname}"
        born = rng.randrange(1850, 1990)
        rows.append({**base, "type": "person", "name": name,
                     "disambiguation_name": f"{name} ({kb_id})",
                     "aliases": f"{given[0]}. {surname}",
                     "description": f"{name} was a person number {i}.",
                     "gender": "F" if fem else "M",
                     "date_of_birth": f"{born}-01-01",
                     "date_of_death": f"{born + rng.randrange(30, 90)}-01-01",
                     "jobs": rng.choice(["writer", "painter", "engineer"]),
                     "nationality": "Czech"})
    return rows


def check_generated_rows_disjoint(fixture: list[dict],
                                  generated: list[dict]) -> None:
    """Generated rows share no surface or wiki_url with any other row, so
    canonicalization leaves each one a singleton and the quadratic oracle
    canonical map can run on the fixture rows alone. Surfaces are the
    oracle's own: name and aliases."""
    from kglinker.oracle import _surfaces

    seen_surface: dict[str, int] = {}
    seen_url: dict[str, int] = {}
    for r in fixture:
        for s in _surfaces(r):
            seen_surface.setdefault(s, r["kb_id"])
        if r.get("wiki_url"):
            seen_url.setdefault(r["wiki_url"], r["kb_id"])
    for r in generated:
        for s in _surfaces(r):
            if s in seen_surface:
                raise ValueError(f"generated row {r['kb_id']} shares surface "
                                 f"{s!r} with row {seen_surface[s]}")
            seen_surface[s] = r["kb_id"]
        if r["wiki_url"] in seen_url:
            raise ValueError(f"generated row {r['kb_id']} shares wiki_url "
                             f"with row {seen_url[r['wiki_url']]}")
        seen_url[r["wiki_url"]] = r["kb_id"]


class Pipeline:
    """``run_pipeline`` over seeded synthetic conversations and a KB of the
    fixture plus generated rows."""

    name = "pipeline"
    nominal_pass_s = 20.0       # sets the timed pass count (run.py)

    def __init__(self, seed: int, input_dir: str, cache: Cache):
        self.seed = seed
        self.input_dir = input_dir
        self.cache = cache
        self.snapshot = f"perfbench-kb-{N_GEN_KB}"

    def make_inputs(self) -> None:
        import pyarrow as pa

        from kglinker.data.kb_fixture import KB_COLUMNS, KB_SCHEMA, KB_ROWS
        from kglinker.data.transcripts import transcripts_pdf

        os.makedirs(self.input_dir, exist_ok=True)
        self.transcripts = transcripts_pdf(N_CONVS, seed=self.seed)
        self.n_input_rows = len(self.transcripts)
        self.transcripts_path = os.path.join(self.input_dir, "transcripts")
        _write_parts(pa.Table.from_pandas(self.transcripts,
                                          preserve_index=False),
                     self.transcripts_path)

        self.fixture_rows = [dict(zip(KB_COLUMNS, r)) for r in KB_ROWS]
        first_id = max(r["kb_id"] for r in self.fixture_rows) + 1
        self.gen_rows = gen_kb_rows(N_GEN_KB, first_id)
        check_generated_rows_disjoint(self.fixture_rows, self.gen_rows)
        kb_rows = self.fixture_rows + self.gen_rows
        self.kb_path = os.path.join(self.input_dir, "kb")
        kb_schema = pa.schema([
            pa.field(f.name, pa.int64() if f.dataType.typeName() == "long"
                     else pa.string()) for f in KB_SCHEMA.fields])
        _write_parts(pa.Table.from_pylist(kb_rows, schema=kb_schema),
                     self.kb_path)

    def register(self, spark) -> None:
        from kglinker.data.io import read_transcripts
        self.transcripts_df = read_transcripts(spark, self.transcripts_path)
        self.kb_df = spark.read.parquet(self.kb_path)

    def run_pass(self, spark, pass_dir: str, tracer=None) -> dict:
        from kglinker.jobs import pipeline

        def call():
            return pipeline.run_pipeline(
                spark, self.transcripts_df, pass_dir, n_buckets=N_BUCKETS,
                kb=self.kb_df, kb_snapshot=self.snapshot)

        t0 = time.perf_counter()
        if tracer is None:
            call()
        else:
            tracer.call("pipeline.run_pipeline", call)
        return {"job_s": time.perf_counter() - t0, "dir": pass_dir}

    # -- oracle and check --------------------------------------------------------
    def kb_build_rows(self, spark) -> tuple[list[dict], list[dict]]:
        """The engine's namelist and subname rows for this KB: build data
        the oracle linker indexes, as the test suite's fixture does."""
        from kglinker.kb.names import build_namelist, build_subname_map
        from kglinker.kb.scoring import score_kb
        kb_scored = score_kb(self.kb_df)
        nl = [r.asDict() for r in build_namelist(kb_scored).collect()]
        sub = [r.asDict() for r in build_subname_map(kb_scored).collect()]
        return nl, sub

    def oracle(self, spark) -> dict:
        # the KB is seed-independent, so its build rows are cached once
        nl, sub = self.cache.get_or_compute(
            f"pipeline-kb-{N_GEN_KB}", lambda: self.kb_build_rows(spark))

        def compute():
            from kglinker.oracle import oracle_triples
            from kglinker.oracle_matcher import OracleLinker
            linker = OracleLinker(self.fixture_rows + self.gen_rows, nl, sub)
            triples = oracle_triples(self.transcripts, linker,
                                     self.fixture_rows)
            # generated rows are singletons (check_generated_rows_disjoint)
            for r in self.gen_rows:
                eid = str(r["kb_id"])
                triples.add((eid, "entity_type", r["type"], None))
                triples.add((eid, "kb_uri", r["wiki_url"], None))
            weights = Counter((s, o) for s, p, o, _ in triples
                              if p == "co_occurs_in_conv")
            return {"triples": triples, "weights": dict(weights),
                    "n_surfaces": len(nl)}
        return self.cache.get_or_compute(
            f"pipeline-{self.seed}-{N_CONVS}-{N_GEN_KB}", compute)

    def check(self, out: dict, oracle: dict) -> list[str]:
        """What is wrong with the pass output (empty if nothing); also
        records the pass's mention and triple counts in ``out``."""
        import pyarrow.dataset as ds

        problems = []
        lineage = os.path.join(out["dir"], "_lineage")
        markers = sorted(f for f in os.listdir(lineage)
                         if f.startswith("bucket-") and f.endswith(".json"))
        if len(markers) != N_BUCKETS:
            problems.append(f"{len(markers)} of {N_BUCKETS} lineage markers")
        n_mentions = 0
        for f in markers:
            with open(os.path.join(lineage, f)) as fh:
                rec = json.load(fh)
            if rec.get("kb_snapshot") != self.snapshot:
                problems.append(f"{f}: snapshot {rec.get('kb_snapshot')!r}")
            n_mentions += int(rec.get("n_rows_out", 0))
        t = ds.dataset(os.path.join(out["dir"], "graph", "edges"),
                       format="parquet", partitioning="hive").to_table(
            columns=["subj", "pred", "obj", "conv_id", "weight"])
        cols = [t.column(c).to_pylist()
                for c in ("subj", "pred", "obj", "conv_id", "weight")]
        rows = list(zip(*cols))
        got = {r[:4] for r in rows}
        want = oracle["triples"]
        if len(got) != len(rows):
            problems.append(f"{len(rows) - len(got)} duplicate edges")
        if got != want:
            problems.append(f"edges differ from the oracle: "
                            f"{len(got - want)} extra, {len(want - got)} missing")
        weights = oracle["weights"]
        bad_w = sum(1 for s, p, o, _, w in rows
                    if w != (weights.get((s, o)) if p == "co_occurs_in_conv"
                             else None))
        if bad_w:
            problems.append(f"{bad_w} edges with a wrong weight")
        out["n_triples"] = len(rows)
        out["n_mentions"] = n_mentions
        out["mentions_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(out["dir"], "mentions"))
            for f in fs if not f.startswith((".", "_")))
        return problems

    # -- single-process layer probes ---------------------------------------------
    def probes(self, artifacts) -> dict[str, float]:
        """Payload size, unpickle time and matcher throughput of the
        compiled KB artifacts, outside Spark, on a fixed turn sample."""
        from kglinker.extract.stage import annotate_pdf

        sample = self.transcripts[self.transcripts["conv_id"].isin(
            self.transcripts["conv_id"].unique()[:SAMPLE_CONVS])]
        texts = sample["text"].tolist()
        payload = artifacts.dumps()
        load, scan, annotate = [], [], []
        for _ in range(3):
            t0 = time.perf_counter()
            pickle.loads(payload)  # bytes this process just pickled
            load.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for text in texts:
                artifacts.automaton.find_matches(text)
            scan.append(len(texts) / (time.perf_counter() - t0))
            t0 = time.perf_counter()
            annotate_pdf(sample, artifacts)
            annotate.append(len(texts) / (time.perf_counter() - t0))
        return {"automaton.payload_bytes": len(payload),
                "automaton.load_s": statistics.median(load),
                "automaton.scan_turns_per_s": statistics.median(scan),
                "extract.annotate_turns_per_s": statistics.median(annotate)}


# -- registry headline queries ----------------------------------------------------------

REGISTRY_TABLES = ("documents", "embeddings")   # the tables the queries read


# Headline registry queries: ``ops/gazetteer_sql``, ``graph/analytics``
# pagerank, ``ops/dedup``, ``ops/similarity`` and ``ops/textstats``. Left
# out so that a warm-up pass and three timed passes fit the benchmark's
# run budget next to the pipeline's (``perfbench/NOTES.md``):
# ``dedup_minhash_lsh`` (6-9 s a pass), ``dedup_simhash_pairs`` (3-4 s)
# and ``events_asof`` (2-3 s).
REGISTRY_QUERIES = ["kg_gazetteer_mentions", "kg_cooccurrence_edges",
                    "kg_pagerank", "dedup_exact", "ann_cosine_topk",
                    "text_quality"]


def headline_queries() -> list[str]:
    """The registry queries this benchmark times, each a headline query."""
    from kglinker.queries import QUERIES
    for n in REGISTRY_QUERIES:
        if not QUERIES[n].headline:
            raise ValueError(f"{n} is no longer a headline query")
    return list(REGISTRY_QUERIES)


def _normalized_digest(pdf) -> tuple[list[str], int, str]:
    from kglinker.jobs.validate_gates import _normalize
    rows = _normalize(pdf)
    return (sorted(pdf.columns), len(rows),
            hashlib.sha256(repr(rows).encode()).hexdigest())


class Registry:
    """Six headline registry queries (REGISTRY_QUERIES) over the sf0.1
    documents and embeddings tables; the seed permutes row order."""

    name = "registry-headline"
    nominal_pass_s = 7.0        # sets the timed pass count (run.py)

    def __init__(self, seed: int, input_dir: str, cache: Cache):
        self.seed = seed
        self.input_dir = input_dir
        self.cache = cache

    def make_inputs(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        os.makedirs(self.input_dir, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        self.n_input_rows = 0
        for t in REGISTRY_TABLES:
            table = pq.read_table(os.path.join(DATA_DIR, f"{t}.parquet"))
            table = table.take(rng.permutation(table.num_rows))
            pq.write_table(table, os.path.join(self.input_dir, f"{t}.parquet"))
            self.n_input_rows += table.num_rows
        self.queries = headline_queries()

    def register(self, spark) -> None:
        pass    # each query reads its tables from the input directory

    def run_pass(self, spark, pass_dir: str, tracer=None) -> dict:
        from kglinker.queries import QUERIES
        results, job_s = {}, 0.0
        for name in self.queries:
            fn = QUERIES[name].fn
            t0 = time.perf_counter()
            if tracer is None:
                results[name] = fn(spark, self.input_dir).toPandas()
            else:
                results[name] = tracer.call(
                    f"ops.{name}",
                    lambda: fn(spark, self.input_dir).toPandas())
            job_s += time.perf_counter() - t0
        return {"job_s": job_s, "results": results}

    def oracle(self, spark) -> dict:
        """DuckDB answers over the unpermuted tables: row order does not
        change a relational answer, so one answer serves every seed."""
        def compute():
            import duckdb

            from kglinker.queries import QUERIES
            con = duckdb.connect()
            try:
                for t in REGISTRY_TABLES:
                    path = os.path.join(DATA_DIR, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{path}')")
                return {n: _normalized_digest(con.execute(QUERIES[n].sql)
                                              .fetchdf())
                        for n in self.queries}
            finally:
                con.close()
        return self.cache.get_or_compute("registry", compute)

    def check(self, out: dict, oracle: dict) -> list[str]:
        """What is wrong with the pass output (empty if nothing)."""
        problems = []
        for name, pdf in out.pop("results").items():
            if _normalized_digest(pdf) != oracle[name]:
                problems.append(f"{name} differs from DuckDB")
        return problems


WORKLOADS = {w.name: w for w in (Pipeline, Registry)}
