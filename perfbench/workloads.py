"""The benchmark's three workloads: seeded inputs, one operation each,
correctness oracles and the layer probes of the traced run.

Each workload drives a different layer of the engine through its public
functions only:

* ``webtext_filter`` — ``QualityFilterPipeline.run`` with the real
  partitioned parquet write and the lineage read-back; the row stage
  (signals, JVM langid, perplexity and scrub Arrow UDFs) does the work.
* ``near_dup_pairs`` — registry queries q18/q33/q34 over a corpus with
  planted near-duplicate clusters; shuffles, self-joins and aggregation do
  the work, with no Python UDF and no Arrow traffic.
* ``contract_scan`` — ``verify_contract`` plus ``write_scan_results`` over
  raw web pages; one fused aggregate over a read-only scan.

``prepare`` runs in a child process, so the memory used to generate inputs
and compute oracles never counts towards the measured process tree.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime, timezone
from multiprocessing import get_context
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
#: inputs and oracles cached under a key that changes with this file, so an
#: edit to a generator or an oracle never reuses stale ones
with open(__file__, "rb") as _fh:
    CODE_TAG = hashlib.sha1(_fh.read()).hexdigest()[:10]

#: input sizes at ``--scale 1``; ``--scale 6.6666667`` gives the 200k-row
#: corpus that ``bench.py`` and the ROADMAP baseline use for the filter
WEB_ROWS = 30_000
NEAR_DUP_DOCS = 7_000
SCAN_REPLICAS = 10  # contract_scan reads 10x the filter's row count

#: rows per generated file, as in bench.py, so that seed 42 at 200,000 rows
#: is its corpus (142,494 kept)
WEB_ROWS_PER_FILE = 50_000

DEDUP_QUERIES = ("q18_minhash_near_dups", "q33_ngram_jaccard_pairs", "q34_decontamination")
SCAN_CONTRACT = os.path.join(HERE, "web_pages_raw.yml")
#: fixed "now" for the freshness check, so its value depends on the data only
SCAN_DATA_TS = datetime(2026, 7, 2, tzinfo=timezone.utc)
SCRUB_SAMPLE = 200


def _rows(base: int, scale: float, floor: int) -> int:
    return max(floor, int(round(base * scale)))


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
        )
    return total


def _fresh_data_dir(work: str, name: str, seed: int, n: int) -> str:
    """This seed's input directory; other inputs of the workload are removed
    so the checkout holds one input set per workload."""
    parent = os.path.join(work, name)
    os.makedirs(parent, exist_ok=True)
    want = f"data-s{seed}-n{n}-{CODE_TAG}"
    for d in os.listdir(parent):
        if d.startswith("data-") and d != want:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return os.path.join(parent, want)


def _cache_path(work: str, name: str, seed: int, n: int, ext: str) -> str:
    os.makedirs(os.path.join(work, "cache"), exist_ok=True)
    return os.path.join(work, "cache", f"{name}-s{seed}-n{n}-{CODE_TAG}.{ext}")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# webtext_filter
# ---------------------------------------------------------------------------


class WebtextFilter:
    name = "webtext_filter"
    #: operations in the set-up: the first forks the Python workers and
    #: compiles the plans, the rest let the JIT settle before timing starts
    warmup_ops = 2

    @staticmethod
    def prepare(seed: int, scale: float, work: str) -> dict[str, Any]:
        import numpy as np
        import pyarrow.parquet as pq

        from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

        n = _rows(WEB_ROWS, scale, 400)
        data = _fresh_data_dir(work, WebtextFilter.name, seed, n)
        write_web_pages_parquet(data, n, seed=seed, rows_per_file=WEB_ROWS_PER_FILE)
        cache = _cache_path(work, WebtextFilter.name, seed, n, "json")
        if not os.path.exists(cache):
            # the reference labeller costs ~0.2 ms a row: split by row group
            # over a few processes, once per seed
            files = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
            urls = pq.read_table(data, columns=["url"]).column("url").to_pylist()
            rng = np.random.default_rng([seed, 1])
            sample = sorted(rng.choice(urls, size=min(SCRUB_SAMPLE, n), replace=False).tolist())
            parts = _split_row_groups(data, files)
            with ProcessPoolExecutor(len(parts), mp_context=get_context("spawn")) as ex:
                results = list(ex.map(_label_part, [data] * len(parts), parts, [sample] * len(parts)))
            oracle = {"n": n, "kept": 0, "fails": {}, "sample": {}}
            for r in results:
                oracle["kept"] += r["kept"]
                for k, v in r["fails"].items():
                    oracle["fails"][k] = oracle["fails"].get(k, 0) + v
                oracle["sample"].update(r["sample"])
            with open(cache, "w") as fh:
                json.dump(oracle, fh)
        return {"data": data, "oracle": cache, "n": n}

    def __init__(self, meta: dict[str, Any], work: str):
        self.meta = meta
        with open(meta["oracle"]) as fh:
            self.oracle = json.load(fh)
        self.out = os.path.join(work, self.name, "out")
        self.lineage = os.path.join(work, self.name, "lineage")
        self.probe_out = os.path.join(work, self.name, "probe_out")
        self.result = None

    def open(self, spark) -> None:
        from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline

        self.df = spark.read.parquet(self.meta["data"])
        self.pipeline = QualityFilterPipeline()

    def op(self, spark, tracer) -> int:
        self.result = self.pipeline.run(self.df, output_path=self.out, lineage_path=self.lineage)
        return self.meta["n"]

    def output_bytes(self) -> int:
        return _parquet_bytes(self.out) + _parquet_bytes(self.lineage)

    def check(self, oracle: dict[str, Any] | None = None) -> list[str]:
        """Compare the last operation with the reference labeller: input and
        kept counts, every rule's fail count (from the run metrics and from
        the written lineage), and a seeded sample of ``text_scrubbed``."""
        import pyarrow.parquet as pq

        o = oracle or self.oracle
        r, errs = self.result, []
        if r.n_input != o["n"]:
            errs.append(f"n_input {r.n_input} != {o['n']}")
        if r.n_kept != o["kept"]:
            errs.append(f"n_kept {r.n_kept} != {o['kept']}")
        if r.per_rule_fail != o["fails"]:
            errs.append(f"per-rule fails {r.per_rule_fail} != {o['fails']}")
        lin = pq.read_table(self.lineage).to_pandas()
        if int(lin["n_docs"].sum()) != o["n"] or int(lin["n_kept"].sum()) != o["kept"]:
            errs.append("lineage totals differ from the oracle")
        for rule, want in o["fails"].items():
            if int(lin[f"fail_{rule}"].sum()) != want:
                errs.append(f"lineage fail_{rule} differs from the oracle")
        urls = list(o["sample"])
        got = pq.read_table(
            self.out, columns=["url", "text_scrubbed"], filters=[("url", "in", urls)]
        ).to_pylist()
        seen = {row["url"]: row["text_scrubbed"] for row in got}
        if len(got) != len(urls) or set(seen) != set(urls):
            errs.append(f"sampled urls: {len(got)} rows for {len(urls)} urls")
        bad = [u for u in urls if u in seen and seen[u] != o["sample"][u]]
        if bad:
            errs.append(f"text_scrubbed differs from scrub_text on {len(bad)} sampled rows")
        return errs

    def probes(self, spark, tracer) -> dict:
        """Cumulative noop-sink probes built from the pipeline's constructor
        flags; a layer's time is the difference between two probes."""
        from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline as P

        variants = {
            "scan": lambda: self.df.drop("html"),
            "signals": lambda: P(scrub=False, langid=False, perplexity=False).annotate(self.df),
            "langid": lambda: P(scrub=False, langid=True, perplexity=False).annotate(self.df),
            "perplexity": lambda: P(scrub=False, langid=False, perplexity=True).annotate(self.df),
            "scrub": lambda: P(scrub=True, langid=False, perplexity=False).annotate(self.df),
            "annotate": lambda: P().annotate(self.df),
        }
        spans = {}
        for name, build in variants.items():
            with tracer.span(f"probe.{name}", "probe") as spans[name]:
                build().write.mode("overwrite").format("noop").save()
        with tracer.span("probe.observe", "probe") as spans["observe"]:
            P().run(self.df)
        with tracer.span("probe.write", "probe") as spans["write"]:
            P().run(self.df, output_path=self.probe_out)
        tracer.collect()
        return spans

    def layers(self, tracer, ops: list, probes: dict) -> dict[str, float]:
        def p(name: str) -> float:
            return probes[name].seconds

        def arrow(name: str, metric: str) -> float:
            return tracer.sql_total(probes[name], "ArrowEvalPython", metric) / 2**20

        def per_op(fn) -> float:
            return median([fn(s) for s in ops])

        sent, back = "data sent to Python workers", "data returned from Python workers"
        return {
            "sources.scan_s": p("scan"),
            "sources.input_mb": per_op(lambda s: tracer.total(s, "input_mb")),
            "sources.write_s": p("write") - p("observe"),
            "sources.output_mb": per_op(lambda s: tracer.total(s, "output_mb")),
            "functions.text.signals_s": p("signals") - p("scan"),
            "functions.langid.self_s": p("langid") - p("signals"),
            "functions.perplexity.self_s": p("perplexity") - p("signals"),
            "functions.perplexity.arrow_to_py_mb": arrow("perplexity", sent),
            "functions.scrub.self_s": p("scrub") - p("signals"),
            "functions.scrub.arrow_to_py_mb": arrow("scrub", sent),
            "functions.scrub.arrow_from_py_mb": arrow("scrub", back),
            "filter_pipeline.annotate_s": p("annotate"),
            "filter_pipeline.observe_s": p("observe") - p("annotate"),
            "filter_pipeline.lineage_s": per_op(lambda s: s.seconds) - p("write"),
            "filter_pipeline.kept_ratio": self.oracle["kept"] / self.oracle["n"],
            "python.worker_s": per_op(
                lambda s: tracer.sql_total(s, "ArrowEvalPython", "time to run Python workers")),
            "python.worker_init_s": per_op(
                lambda s: tracer.sql_total(s, "ArrowEvalPython", "time to initialize Python workers")),
            "python.arrow_to_py_mb": per_op(
                lambda s: tracer.sql_total(s, "ArrowEvalPython", sent)) / 2**20,
            "python.arrow_from_py_mb": per_op(
                lambda s: tracer.sql_total(s, "ArrowEvalPython", back)) / 2**20,
        }


def _split_row_groups(data: str, files: list[str]) -> list[list[tuple[str, int]]]:
    import pyarrow.parquet as pq

    parts = len(os.sched_getaffinity(0))
    groups = [(f, g) for f in files for g in range(pq.ParquetFile(os.path.join(data, f)).num_row_groups)]
    size = max(1, math.ceil(len(groups) / parts))
    return [groups[i:i + size] for i in range(0, len(groups), size)]


def _label_part(data: str, groups: list[tuple[str, int]], sample: list[str]) -> dict[str, Any]:
    import pyarrow.parquet as pq

    from soda_core_spark.sources.webtext_oracle import label_frame

    wanted = set(sample)
    out: dict[str, Any] = {"kept": 0, "fails": {}, "sample": {}}
    for f, g in groups:
        pdf = pq.ParquetFile(os.path.join(data, f)).read_row_group(
            g, columns=["url", "text", "lang"]).to_pandas()
        labels = label_frame(pdf)
        out["kept"] += int(labels["keep"].sum())
        for c in labels.columns:
            if c.startswith("fail_"):
                out["fails"][c[5:]] = out["fails"].get(c[5:], 0) + int(labels[c].sum())
        for r in labels[labels["url"].isin(wanted)].itertuples(index=False):
            out["sample"][r.url] = r.text_scrubbed if r.keep else None
    return out


# ---------------------------------------------------------------------------
# near_dup_pairs
# ---------------------------------------------------------------------------


#: variants per base document, cycled, and the share of words each
#: successive variant substitutes; fixed so that every seed plants the same
#: cluster structure and only the words differ
CLUSTER_VARIANTS = (0, 1, 0, 2, 0, 0, 3, 0, 4, 0)
EDIT_RATES = (0.02, 0.08, 0.15, 0.25)


def make_documents(n_docs: int, seed: int):
    """A ``documents`` table (the registry's schema) with planted
    near-duplicate clusters.

    Words come from a seeded 1,500-word vocabulary with Zipf-like
    frequencies, so common word triples give the shingle self-join long
    posting lists. Base documents get 0-4 variants in a fixed cycle, with
    2-25% of their words substituted and a quarter as many dropped: light
    edits make MinHash pairs (q18) and decontamination hits (q34), heavy
    ones only n-gram pairs (q33)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu", "fe", "hi", "ja"]
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < 1500:
        w = "".join(rng.choice(syll, size=int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p /= p.sum()
    docs: list[np.ndarray] = []
    while len(docs) < n_docs:
        base = rng.choice(len(vocab), size=int(rng.integers(20, 90)), p=p)
        variants = CLUSTER_VARIANTS[len(docs) % len(CLUSTER_VARIANTS)]
        docs.append(base)
        for rate in EDIT_RATES[:variants]:
            v = np.where(rng.random(base.size) < rate,
                         rng.choice(len(vocab), size=base.size, p=p), base)
            docs.append(v[rng.random(v.size) >= rate / 4])
    docs = docs[:n_docs]
    order = rng.permutation(n_docs)
    voc = np.array(vocab)
    texts = [" ".join(voc[docs[i]]) for i in order]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": [f"src{i}" for i in rng.integers(0, 20, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


class NearDupPairs:
    name = "near_dup_pairs"
    warmup_ops = 2

    @staticmethod
    def prepare(seed: int, scale: float, work: str) -> dict[str, Any]:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from soda_core_spark.entry_queries import REGISTRY

        n = _rows(NEAR_DUP_DOCS, scale, 300)
        data = _fresh_data_dir(work, NearDupPairs.name, seed, n)
        docs = os.path.join(data, "documents.parquet")
        if not os.path.exists(docs):
            os.makedirs(data, exist_ok=True)
            table = pa.Table.from_pandas(make_documents(n, seed), preserve_index=False)
            pq.write_table(table, docs + ".tmp", row_group_size=1024)
            os.replace(docs + ".tmp", docs)
        oracles = {}
        for q in DEDUP_QUERIES:
            path = _cache_path(work, f"{NearDupPairs.name}-{q}", seed, n, "parquet")
            if not os.path.exists(path):
                con = duckdb.connect()
                con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
                pq.write_table(con.sql(REGISTRY[q][1]).arrow(), path)
                con.close()
            oracles[q] = path
        return {"data": data, "oracles": oracles, "n": n}

    def __init__(self, meta: dict[str, Any], work: str):
        self.meta = meta
        self.out = {q: os.path.join(work, self.name, "out", q) for q in DEDUP_QUERIES}

    def open(self, spark) -> None:
        from soda_core_spark.entry_queries import REGISTRY

        self.queries = {q: REGISTRY[q][0] for q in DEDUP_QUERIES}

    def op(self, spark, tracer) -> int:
        for q, fn in self.queries.items():
            with tracer.span(f"dedup.{q.split('_')[0]}"):
                # one file per result: the results are small, and the file
                # count AQE picks varies from run to run, and with it the
                # bytes written
                fn(spark, self.meta["data"]).repartition(1).write.mode("overwrite").parquet(self.out[q])
        return self.meta["n"]

    def output_bytes(self) -> int:
        return sum(_parquet_bytes(p) for p in self.out.values())

    def check(self, oracles: dict[str, str] | None = None) -> list[str]:
        """Each written output against its DuckDB ``oracle_sql`` twin, with
        the normalisation and tolerance of scripts/check_oracles.py."""
        import pandas as pd
        import pyarrow.parquet as pq

        from scripts.check_oracles import normalize

        errs = []
        for q, path in (oracles or self.meta["oracles"]).items():
            s = normalize(pq.read_table(self.out[q]).to_pandas())
            o = normalize(pq.read_table(path).to_pandas())
            if len(s) != len(o) or list(s.columns) != list(o.columns):
                errs.append(f"{q}: {len(s)} rows {list(s.columns)} vs oracle {len(o)} {list(o.columns)}")
                continue
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as e:
                errs.append(f"{q}: values differ: {str(e).splitlines()[-1]}")
        return errs

    def probes(self, spark, tracer) -> dict:
        from soda_core_spark.operators.dedup import shingle_frame

        docs = spark.read.parquet(os.path.join(self.meta["data"], "documents.parquet"))
        spans = {}
        with tracer.span("probe.shingle", "probe") as spans["shingle"]:
            shingle_frame(docs, "doc_id", "text", 3).write.mode("overwrite").format("noop").save()
        tracer.collect()
        return spans

    def layers(self, tracer, ops: list, probes: dict) -> dict[str, float]:
        def call(op, prefix):
            return next(c for c in tracer.children(op) if c.name == f"dedup.{prefix}")

        def join_rows(span) -> float:
            rows = [v for n, m, v in span.counters.get("sql", [])
                    if "Join" in n and m == "number of output rows"]
            return max(rows, default=0.0)

        def written_rows(span) -> float:
            return tracer.sql_total(span, "Execute InsertIntoHadoopFsRelationCommand",
                                    "number of output rows")

        q33_join = median([join_rows(call(s, "q33")) for s in ops])
        q33_out = median([written_rows(call(s, "q33")) for s in ops])
        return {
            "dedup.shingle_s": probes["shingle"].seconds,
            "dedup.q18_s": median([call(s, "q18").seconds for s in ops]),
            "dedup.q33_s": median([call(s, "q33").seconds for s in ops]),
            "dedup.q34_s": median([call(s, "q34").seconds for s in ops]),
            "dedup.shuffle_write_mb": median([tracer.total(s, "shuffle_write_mb") for s in ops]),
            "dedup.spill_mb": median([tracer.total(s, "spill_mb") for s in ops]),
            "dedup.q33_join_rows": q33_join,
            "dedup.q33_pair_yield": q33_out / q33_join if q33_join else 0.0,
        }


# ---------------------------------------------------------------------------
# contract_scan
# ---------------------------------------------------------------------------

#: DuckDB twin of every measurement the contract produces, by metric name
SCAN_ORACLE_SQL = {
    "check_rows_tested": "count(*)",
    "failed_rows(text IS NULL OR length(text) < 200 OR length(text) > 20000)":
        "count(*) FILTER (WHERE text IS NULL OR length(text) < 200 OR length(text) > 20000)",
    "missing_count(url)": "count(*) FILTER (WHERE url IS NULL)",
    "distinct_count(url)": "count(DISTINCT url)",
    "max(warc_ts)": "max(warc_ts)",
    "missing_count(text)": "count(*) FILTER (WHERE text IS NULL OR text = '')",
    "missing_count(lang)": "count(*) FILTER (WHERE lang IS NULL)",
    "invalid_count(lang)":
        "count(*) FILTER (WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$'))",
}


def _plain(v: Any) -> Any:
    """A measurement value in a form both engines agree on."""
    import pandas as pd

    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).tz_localize(None).isoformat()
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def make_raw_pages(n_base: int, seed: int):
    """``SCAN_REPLICAS`` renamed copies of seeded web pages, with a few
    planted defects (NULL and empty text, NULL and malformed lang, NULL and
    repeated urls) so that the contract's checks count something.

    ``html`` is cut to its first 64 bytes: the contract checks only its type,
    and 1-2 KB of incompressible bytes a row would make the scan's split
    count follow bytes that no check reads."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from soda_core_spark.sources.webtext_gen import generate_web_pages

    base = pa.Table.from_pandas(generate_web_pages(n_base, seed=seed), preserve_index=False)
    html = base.schema.get_field_index("html")
    base = base.set_column(html, "html", pc.binary_slice(base.column("html"), 0, 64))
    copies = []
    for k in range(SCAN_REPLICAS):
        url = pc.replace_substring(base.column("url"), "/page-", f"/page-{k}-")
        copies.append(base.set_column(0, "url", url))
    t = pa.concat_tables(copies).combine_chunks()
    n = t.num_rows
    rng = np.random.default_rng([seed, 3])

    def planted(col: str, rate: float, value) -> None:
        nonlocal t
        mask = pa.array(rng.random(n) < rate)
        i = t.schema.get_field_index(col)
        t = t.set_column(i, col, pc.if_else(mask, pa.scalar(value, pa.string()), t.column(col)))

    planted("text", 0.002, None)
    planted("text", 0.003, "")
    planted("lang", 0.002, None)
    planted("lang", 0.003, "EN")
    planted("url", 0.001, None)
    idx = np.arange(n)
    dup = np.flatnonzero(rng.random(n) < 0.002)
    idx[dup] = np.maximum(dup - 1, 0)
    return t.set_column(0, "url", pc.take(t.column("url"), pa.array(idx)))


class ContractScan:
    name = "contract_scan"
    # short operations: more of them before the JIT stops speeding them up
    warmup_ops = 3

    @staticmethod
    def prepare(seed: int, scale: float, work: str) -> dict[str, Any]:
        import duckdb
        import pyarrow.parquet as pq

        n_base = _rows(WEB_ROWS, scale, 400)
        n = n_base * SCAN_REPLICAS
        data = _fresh_data_dir(work, ContractScan.name, seed, n)
        if not os.path.exists(os.path.join(data, "_DONE")):
            os.makedirs(data, exist_ok=True)
            table = make_raw_pages(n_base, seed)
            per_file = math.ceil(n / 4)
            for i in range(4):
                pq.write_table(table.slice(i * per_file, per_file),
                               os.path.join(data, f"part-{i:05d}.parquet"), row_group_size=4096)
            open(os.path.join(data, "_DONE"), "w").close()
        cache = _cache_path(work, ContractScan.name, seed, n, "json")
        if not os.path.exists(cache):
            con = duckdb.connect()
            cols = ", ".join(f'{sql} AS "{name}"' for name, sql in SCAN_ORACLE_SQL.items())
            row = con.sql(f"SELECT {cols} FROM read_parquet('{data}/*.parquet')").fetchone()
            con.close()
            with open(cache, "w") as fh:
                json.dump({k: _plain(v) for k, v in zip(SCAN_ORACLE_SQL, row)}, fh)
        return {"data": data, "oracle": cache, "n": n}

    def __init__(self, meta: dict[str, Any], work: str):
        self.meta = meta
        with open(meta["oracle"]) as fh:
            self.oracle = json.load(fh)
        out = os.path.join(work, self.name, "out")
        shutil.rmtree(out, ignore_errors=True)
        self.check_results = os.path.join(out, "check_results")
        self.measurements = os.path.join(out, "measurements")
        self.result = None
        self.sink_rows = 0
        self._written = 0

    def open(self, spark) -> None:
        from soda_core_spark.plans.model import contract_from_yaml_file

        self.contract = contract_from_yaml_file(SCAN_CONTRACT)
        self.df = spark.read.parquet(self.meta["data"])

    def op(self, spark, tracer) -> int:
        from soda_core_spark import verify_contract
        from soda_core_spark.sources.sinks import write_scan_results

        with tracer.span("engine.verify_contract"):
            self.result = verify_contract(spark, self.contract, self.df, data_timestamp=SCAN_DATA_TS)
        with tracer.span("sinks.write_scan_results"):
            write_scan_results(spark, self.result, self.check_results, self.measurements)
        return self.meta["n"]

    def output_bytes(self) -> int:
        total = _parquet_bytes(self.check_results) + _parquet_bytes(self.measurements)
        added, self._written = total - self._written, total
        return added

    def check(self, oracle: dict[str, Any] | None = None) -> list[str]:
        """Every measurement against the same aggregate computed by DuckDB
        over the same files, and the sink grown by one row per check."""
        import pyarrow.parquet as pq

        want = oracle or self.oracle
        got = {m.metric_name: _plain(m.value) for m in self.result.measurements}
        errs = [f"{k}: {got.get(k)!r} != {v!r}" for k, v in want.items() if got.get(k) != v]
        errs += [f"unexpected measurement {k}" for k in got.keys() - want.keys()]
        self.sink_rows += len(self.result.check_results)
        rows = pq.ParquetDataset(self.check_results).read(columns=["identity"]).num_rows
        if rows != self.sink_rows:
            errs.append(f"check_results sink has {rows} rows, expected {self.sink_rows}")
        return errs

    def probes(self, spark, tracer) -> dict:
        return {}

    def layers(self, tracer, ops: list, probes: dict) -> dict[str, float]:
        def call(op, name):
            return next(c for c in tracer.children(op) if c.name == name)

        verify = [call(s, "engine.verify_contract") for s in ops]
        return {
            "engine.verify_s": median([s.seconds for s in verify]),
            "engine.spark_jobs": median([len(s.counters.get("jobs", [])) for s in verify]),
            "engine.scan_mb": median([tracer.total(s, "input_mb") for s in verify]),
            "engine.shuffle_mb": median([tracer.total(s, "shuffle_write_mb") for s in verify]),
            "sinks.write_scan_results_s": median(
                [call(s, "sinks.write_scan_results").seconds for s in ops]),
        }


WORKLOADS = {w.name: w for w in (WebtextFilter, NearDupPairs, ContractScan)}
