"""The benchmark's workloads: seeded inputs, one timed rep, and the
reference each rep's output is checked against.

A rep returns (seconds in the timed region, problems found by the
output check). Only the Spark action a user would pay for is timed; the
check and any clean-up run after the clock stops. Every timed action is
forced through Spark's ``noop`` sink (or the pipeline's own parquet
sink), never through ``count()``, which lets Catalyst prune columns the
user would pay for.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import checks

# Per-word vocabulary and language mix of the documents corpus. Five
# gazetteer surfaces (spark, window, filter, customer, stream) are among
# the words, so mention detection fires on every derived turn.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
QUERY_MIX = ["bgp_match", "rdfs_entailment", "entity_sssp", "kg_validate",
             "entity_cooccurrence"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_documents(directory: str, n_docs: int, seed: int) -> str:
    """Write a seeded ``documents.parquet`` (doc_id, text, lang, source,
    n_chars) of 10-100-word texts into ``directory``; returns it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(DOC_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "documents.parquet"))
    return directory


def turn_args(rows) -> list[tuple]:
    """Turn rows (conv_id, turn_idx, role, text, tool, ts_str) → argument
    tuples of ``build_turn_document``, with nextTurn links and mention
    counts worked out here in plain Python, independently of the Spark
    operators."""
    from json_ld_spark.sources.gazetteer import GAZETTEER

    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append(r)
    out = []
    for conv_id in sorted(by_conv):
        turns = sorted(by_conv[conv_id], key=lambda r: r[1])
        for i, (_, idx, role, text, tool, ts) in enumerate(turns):
            nxt = turns[i + 1][1] if i + 1 < len(turns) else None
            mentions = [(eid, s, (text or "").count(s)) for eid, s, _ in GAZETTEER
                        if s in (text or "")]
            out.append((conv_id, idx, role, text, tool, ts, nxt, mentions))
    return out


def _context():
    from json_ld_spark.core.context import parse_context_cached
    from json_ld_spark.operators.jsonld_ops import _NEXT_TURN_CONTEXT

    return parse_context_cached(_NEXT_TURN_CONTEXT)


def core_triples(args: tuple) -> list[tuple]:
    """Triples of one turn from the pure core's node-map path
    (``expanded_to_rdf``), as rows laid out like ``checks.FP_COLS``."""
    from json_ld_spark.core import api
    from json_ld_spark.core.keywords import BlankNodeNamer
    from json_ld_spark.operators.jsonld_ops import build_turn_document

    conv_id, idx = args[0], args[1]
    expanded = api.expand_with_context(build_turn_document(*args), _context())

    def term(x):
        return "_:" + x.value if x.kind == "bnode" else x.value

    out = []
    for t in api.expanded_to_rdf(expanded, namer=BlankNodeNamer(prefix=f"{conv_id}t{idx}m")):
        lit = t.obj.kind == "literal"
        out.append((conv_id, term(t.subject), t.predicate.value, term(t.obj), not lit,
                    t.obj.datatype if lit else None, t.obj.language if lit else None,
                    term(t.graph) if t.graph is not None else None))
    return out


def replay_core(args_list: list[tuple], min_seconds: float = 0.3) -> dict:
    """In-process replay of turns through the three core steps of
    emission as the Spark UDF calls them (document build, expand,
    single-pass toRDF); mean µs per turn for each, and triples per turn."""
    from json_ld_spark.core import api
    from json_ld_spark.core.keywords import BlankNodeNamer
    from json_ld_spark.operators.jsonld_ops import build_turn_document

    ctx = _context()
    build = expand = to_rdf = 0.0
    turns = triples = 0
    start = time.perf_counter()
    while turns == 0 or time.perf_counter() - start < min_seconds:
        for a in args_list:
            t0 = time.perf_counter()
            doc = build_turn_document(*a)
            t1 = time.perf_counter()
            expanded = api.expand_with_context(doc, ctx)
            t2 = time.perf_counter()
            triples += len(api.expanded_to_rdf_stream(
                expanded, namer=BlankNodeNamer(prefix=f"{a[0]}t{a[1]}m")))
            t3 = time.perf_counter()
            build += t1 - t0
            expand += t2 - t1
            to_rdf += t3 - t2
            turns += 1
    return {"core.build_doc_us": 1e6 * build / turns, "core.expand_us": 1e6 * expand / turns,
            "core.to_rdf_us": 1e6 * to_rdf / turns, "core.triples_per_turn": triples / turns}


def _ts_rows(df):
    from pyspark.sql import functions as F

    return [tuple(r) for r in df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")).collect()]


def observed_emit(df, sample_ids: list[str]):
    """``df`` (emit_triples output) with an Observation counting all rows,
    quarantined rows and the fingerprint of the sampled conversations'
    valid triples; the counts are gathered by the same action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    chosen = F.col("conv_id").isin(sample_ids) & F.col("error_code").isNull()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.count("error_code").alias("quarantined"),
                      *checks.spark_fingerprint(chosen)), obs


class Workload:
    """Base: ``materialize`` builds the inputs (part of set-up),
    ``reference`` computes what reps are checked against, ``run`` is one
    rep: the workload's transcripts → ``valid_triples(emit_triples(..))``
    → noop, with an Observation gathering what the check needs."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.turns_in = 0
        self.triples = 0  # reference count of valid triples per rep
        self.quarantined = 0
        self.sink_files = self.sink_bytes = 0
        self.probe_triples = 0  # oracle triples of the pipeline probe's corpus
        self.sample_ids: list[str] = []
        self.sample_args: list[tuple] = []

    def sample_reference(self, spark, conv_ids: list[str], k: int = 24) -> None:
        """Per-conversation triple sets of ``k`` seeded conversations from
        the pure core's node-map path, as one fingerprint."""
        from pyspark.sql import functions as F

        self.sample_ids = sorted(random.Random(self.seed).sample(conv_ids, k))
        rows = _ts_rows(self.transcripts(spark).filter(F.col("conv_id").isin(self.sample_ids)))
        if not rows:
            raise RuntimeError(f"no turns for the sampled conversations {self.sample_ids}")
        self.sample_args = turn_args(rows)
        self.sample_fp = checks.fingerprint({t for a in self.sample_args for t in core_triples(a)})

    def run(self, spark, tracer) -> tuple[float, list[str]]:
        from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples

        df, obs = observed_emit(emit_triples(self.transcripts(spark)), self.sample_ids)
        with tracer.span("jsonld_ops.emit"):
            t0 = time.perf_counter()
            noop(valid_triples(df))
            wall = time.perf_counter() - t0
        self.quarantined = obs.get["quarantined"]
        return wall, checks.check_emit(obs.get, self.sample_fp, self.triples)


class EmitSustained(Workload):
    name = "emit_sustained"
    n_convs = 1500

    def materialize(self, spark, k: int) -> None:
        from json_ld_spark.sources.transcripts import synthesize_transcripts

        self.tx = synthesize_transcripts(spark, n_convs=self.n_convs, seed=self.seed).localCheckpoint()
        self.turns_in = self.tx.count()

    def transcripts(self, spark):
        return self.tx

    def reference(self, spark) -> None:
        """Total: the node-map path's triple count over the whole corpus,
        computed once per distinct turn shape (the count does not depend
        on ids or timestamps)."""
        from json_ld_spark.sources.gazetteer import CONV_NS

        self.sample_reference(spark, [f"conv{i:08d}" for i in range(self.n_convs)])
        pdf = self.tx.select("conv_id", "turn_idx", "role", "text", "tool").toPandas()
        pdf["has_next"] = pdf["turn_idx"] != pdf.groupby("conv_id")["turn_idx"].transform("max")
        shapes: dict = {}
        conv_facts: dict[str, set] = {}
        total = 0
        for conv_id, role, text, tool, has_next in zip(
                pdf["conv_id"], pdf["role"], pdf["text"], pdf["tool"], pdf["has_next"]):
            key = (role, text, tool, bool(has_next))
            if key not in shapes:
                rows = [("convX", 0, role, text, tool, "2024-01-01T00:00:00")]
                if has_next:
                    rows.append(("convX", 1, None, None, None, None))
                triples = core_triples(turn_args(rows)[0])
                shapes[key] = (sum(1 for r in triples if not r[1].startswith(CONV_NS)),
                               frozenset(r[2:] for r in triples if r[1].startswith(CONV_NS)))
            n_turn, facts = shapes[key]
            total += n_turn
            conv_facts.setdefault(conv_id, set()).update(facts)
        self.triples = total + sum(len(f) for f in conv_facts.values())


class EmitDocs(Workload):
    """Emission over a seeded documents corpus; the total is checked
    against the DuckDB oracle of ``__spark_entry__.oracle_sql()``, which
    also checks the pipeline and query probes of the traced run."""

    name = "emit_docs"
    n_docs = 10000

    def materialize(self, spark, k: int) -> None:
        self.docs_dir = make_documents(os.path.join(self.work, f"docs{k}"), self.n_docs, self.seed)
        self.turns_in = self.n_docs

    def transcripts(self, spark):
        from json_ld_spark.sources.transcripts import derive_transcripts_from_documents

        return derive_transcripts_from_documents(spark, self.docs_dir)

    def reference(self, spark) -> None:
        self.triples = self._load_oracle(self.docs_dir)
        self.sample_reference(spark, [f"conv{i:08d}" for i in range((self.n_docs + 4) // 5)])

    def _load_oracle(self, docs_dir: str) -> int:
        """Point the DuckDB ``documents`` view at ``docs_dir`` and keep the
        oracle's triples as table ``kg``; returns their count."""
        import duckdb

        import __spark_entry__ as entry

        self.oracles = entry.oracle_sql()
        if not hasattr(self, "con"):
            self.con = duckdb.connect()
        self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
                         f"'{docs_dir}/documents.parquet')")
        self.con.execute(f"CREATE OR REPLACE TABLE kg AS {self.oracles['kg_documents']}")
        n = self.con.execute("SELECT count(*) FROM kg").fetchone()[0]
        if not n:
            raise RuntimeError("the oracle KG of the documents corpus is empty")
        return n

    def probe_corpus(self, n_docs: int) -> None:
        """A smaller seeded corpus for the pipeline and query probes, so
        that a traced run stays short; the reps' corpus is kept."""
        self.probe_dir = make_documents(os.path.join(self.work, "docs_probe"), n_docs, self.seed)
        self.probe_triples = self._load_oracle(self.probe_dir)

    def pipeline(self, spark, tracer) -> tuple[float, list[str]]:
        """``run_pipeline`` over the probe corpus into a fresh directory;
        the sink must hold exactly the oracle's triples."""
        from json_ld_spark import pipeline
        from json_ld_spark.sources.transcripts import derive_transcripts_from_documents

        out = os.path.join(self.work, "pipeline_out")
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("pipeline.run"):
            t0 = time.perf_counter()
            pipeline.run_pipeline(spark, derive_transcripts_from_documents(spark, self.probe_dir),
                                  out, resume=False)
            wall = time.perf_counter() - t0
        problems = checks.check_sink(
            self.con, f"{out}/graph_triples/*/*.parquet",
            f"{out}/lineage/*.parquet", "SELECT * FROM kg")
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(f"{out}/graph_triples")
                 for f in fs if f.endswith(".parquet")]
        self.sink_files, self.sink_bytes = len(files), sum(map(os.path.getsize, files))
        shutil.rmtree(out)
        return wall, problems

    def query_mix(self, spark, tracer) -> tuple[float, list[str]]:
        """The KG read queries over the probe corpus, in sequence, each
        checked against its DuckDB oracle by canonical strings."""
        import __spark_entry__ as entry

        registry = entry.queries()
        wall, results = 0.0, {}
        for q in QUERY_MIX:
            # persisted so the check reads this run's own output after
            # the clock stops instead of recomputing the query
            with tracer.span(f"query.{q}"):
                t0 = time.perf_counter()
                df = registry[q](spark, self.probe_dir).persist()
                noop(df)
                wall += time.perf_counter() - t0
            results[q] = df
        problems = []
        for q, df in results.items():
            want = self.con.execute(self.oracles[q]).fetchall()
            problems += [f"{q}: {p}" for p in checks.check_rows(df.collect(), want)]
            df.unpersist()
        return wall, problems


WORKLOADS = {w.name: w for w in (EmitSustained, EmitDocs)}
