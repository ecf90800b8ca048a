"""The workloads.  Each makes its inputs from the seed (untimed), warms its
code paths with one untimed operation on the same input, runs its operation
back to back for the measured window, checks the outputs against an
independent answer, and in the traced run forces each layer call in
sequence under its label.  ``StreamReplay`` measures the streaming layer
inside corpus-dedup's traced run.

Sizes are fixed here so that one run, set-up included, fits the run budget
on a 4-core box; every figure is reported at these stated input sizes.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import re
import time
import traceback
from collections import Counter

from perfbench import stats

DEDUP_N_BASE = 3000       # ~6.5k files of ~3.6 KB (base files plus 0-3 variants each)
DEDUP_FILES = 16          # Parquet files the corpus is written as
MATCH_N = 2100            # records per side: 4,200 rows, above the driver-local gate
STREAM_N_BASE = 400       # ~880 documents in landing files of STREAM_BATCH_DOCS
STREAM_BATCH_DOCS = 16
STREAM_SHUFFLE_BATCHES = 4
STREAM_WARMUP_BATCHES = 3  # the query's first batches compile and plan; not measured
STREAM_POLL_S = 0.05


def measure_ops(seconds: float, op, min_ops: int) -> tuple[list[float], list[int], int]:
    """Run ``op`` back to back until ``seconds`` have passed and it ran at
    least ``min_ops`` times.  ``op`` returns the items it processed; a
    failed one counts 0.  Returns (walls, items per op, failed)."""
    walls, items, failed = [], [], 0
    start = time.perf_counter()
    while len(walls) < min_ops or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        try:
            n = op()
        except Exception:  # a failed operation is counted, and the run goes on
            traceback.print_exc()
            failed, n = failed + 1, 0
        walls.append(time.perf_counter() - t0)
        items.append(n)
    return walls, items, failed


def _write_parquet(rows: list[dict], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(0, len(rows), step):
        pq.write_table(pa.Table.from_pylist(rows[i:i + step]),
                       os.path.join(path, f"part-{i // step:05d}.parquet"))


def _jaccard(a, b) -> float:
    import numpy as np

    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / (a.size + b.size - inter)


class CorpusDedup:
    """North-rule job: ``DedupPipeline`` (minhash detector) over a seeded
    code corpus in Parquet, until the clusters are materialized."""

    name = "corpus-dedup"
    items_metric = "dedup_files_per_s"
    min_ops = 1

    def __init__(self, run):
        from fuzzy_matching_spark.config import DedupConfig
        from fuzzy_matching_spark.fixtures.corpus import generate_corpus

        self.run = run
        self.config = DedupConfig()
        self.path = os.path.join(run.work, "corpus")
        fx = generate_corpus(DEDUP_N_BASE, seed=run.seed)
        _write_parquet(fx.rows, self.path, DEDUP_FILES)
        self.planted = [((t["src_repo"], t["src_path"], t["src_commit"]),
                         (t["dst_repo"], t["dst_path"], t["dst_commit"])) for t in fx.truth]
        ends = {key for pair in self.planted for key in pair}
        self.content = {k: r["content"] for r in fx.rows
                        if (k := (r["repo"], r["path"], r["commit"])) in ends}
        self.last = None

    def _pipeline(self, collect_metrics: bool = False):
        from fuzzy_matching_spark.pipeline.dedup_job import DedupPipeline

        return DedupPipeline(self.run.spark, self.config, detectors=("minhash",),
                             collect_metrics=collect_metrics)

    def op(self) -> int:
        from fuzzy_matching_spark.io.readers import load_corpus

        pipe = self._pipeline()
        res = pipe.run(load_corpus(self.run.spark, self.path))
        clusters = res.clusters.toPandas()
        res.edges.unpersist()
        self.last = (res, clusters, dict(pipe.phase_walls))
        return len(clusters)

    def _truth(self) -> list[tuple]:
        """The planted pairs the north rule asks to recover: exact shingle
        Jaccard at or above the pipeline's verify threshold.  Built in the
        check, after the memory figures are read, so the shingle arrays do not
        count in the program's memory."""
        from fuzzy_matching_spark.operators.minhash import shingle_hashes

        k, mode = self.config.shingle_size, self.config.tokenize
        sh = {key: shingle_hashes(text, k, mode) for key, text in self.content.items()}
        return [(a, b) for a, b in self.planted
                if _jaccard(sh[a], sh[b]) >= self.config.verify_threshold]

    def check(self) -> tuple[bool, dict, float]:
        res, clusters, _ = self.last
        truth = self._truth()
        ids = res.corpus.select("doc_id", "repo", "path", "commit").toPandas()
        key_id = {(r.repo, r.path, r.commit): r.doc_id for r in ids.itertuples()}
        component = dict(zip(clusters["doc_id"], clusters["component"]))
        recall = stats.pair_recall([(key_id[a], key_id[b]) for a, b in truth], component)
        family = {r.doc_id: int(re.search(r"mod_(\d+)\.", r.path).group(1))
                  for r in ids.itertuples()}
        precision = stats.same_family_precision(component, family)
        named = {"dup_pair_recall": (recall, "share"), "pair_precision": (precision, "share"),
                 "planted_pairs": (len(truth), "count")}
        return recall >= 0.99, named, recall

    def traced(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from fuzzy_matching_spark.io.readers import load_corpus
        from fuzzy_matching_spark.operators import minhash
        from fuzzy_matching_spark.operators.connected_components import connected_components

        spark, cfg = self.run.spark, self.config
        out = {}
        with tracer.label("io"):
            corpus = load_corpus(spark, self.path)
            corpus.count()
        with tracer.label("pipeline"):
            # the program's own counters: collect_metrics=True adds their
            # count jobs, which is why the timed op runs without them
            pipe = self._pipeline(collect_metrics=True)
            res = pipe.run(corpus)
            res.clusters.toPandas()
            counts = {(r.stage, r.metric): r.value for r in res.metrics.collect()}
        cand = counts[("minhash", "candidate_pairs")]
        acc = counts[("minhash", "accepted_by_estimate")]
        amb = counts[("minhash", "ambiguous_pairs")]
        out.update({"minhash.accepted": acc, "minhash.ambiguous": amb,
                    "minhash.dropped": cand - acc - amb})
        with tracer.label("pipeline.ingest"):
            docs = pipe.ingest(corpus).dropDuplicates(["content_sha256"]).persist()
            docs.count()
        with tracer.label("minhash.signatures"):
            sigs = minhash.minhash_signatures(docs, cfg).persist()
            sigs.count()
        with tracer.label("minhash.candidates"):
            pairs, buckets = minhash.candidate_pairs(minhash.band_table(sigs), cfg)
            pairs = pairs.persist()
            out["minhash.candidate_pairs"] = pairs.count()
            dropped = buckets.filter(F.col("skipped")).agg(
                F.count("*").alias("n"), F.coalesce(F.sum("size"), F.lit(0)).alias("rows")
            ).collect()[0]
            out["minhash.buckets_dropped"] = dropped["n"]
            out["minhash.rows_in_dropped_buckets"] = dropped["rows"]
        with tracer.label("minhash.estimate"):
            minhash.estimate_similarity(pairs, minhash.truncated_signatures(sigs)).write.format(
                "noop").mode("overwrite").save()
        with tracer.label("minhash.verify"):
            # every candidate pair, as verify_mode="always" does: the share
            # that clears the threshold is the candidate generator's yield
            verified = minhash.verify_pairs_exact(pairs, docs, cfg).filter(
                F.col("sim") >= cfg.verify_threshold).count()
        out["minhash.verified_over_attempted"] = (
            verified / out["minhash.candidate_pairs"] if out["minhash.candidate_pairs"] else 0.0)
        with tracer.label("cc"):
            edges = res.edges.select("id_a", "id_b")
            out["cc.edges_in"] = edges.count()
            labels = connected_components(edges)
            out["cc.components"] = labels.select("component").distinct().count()
        for df in (pairs, sigs, docs, res.edges):
            df.unpersist()
        for name in ("signatures", "candidates", "estimate", "verify"):
            out[f"minhash.{name}_s"] = tracer.walls[f"minhash.{name}"]
        out["cc.s"] = tracer.walls["cc"]
        out["io.scan_s"] = tracer.walls["io"]
        return out

    @staticmethod
    def from_event_log(ev: stats.EventLogReduction) -> dict:
        return {}

    def untraced_layers(self) -> dict:
        """``DedupPipeline.phase_walls`` of the last untraced op."""
        walls = self.last[2]
        keys = {"pipeline.ingest_tag_s": "ingest.tag", "pipeline.minhash_sig8_s": "minhash.sig8",
                "pipeline.minhash_estimate_s": "minhash.estimate",
                "pipeline.minhash_ambiguous_s": "minhash.ambiguous_pairs",
                "pipeline.edges_s": "edges.total_edges",
                "pipeline.components_s": "cluster.components"}
        return {k: walls.get(v, 0.0) for k, v in keys.items()}


# the oracle's answer depends on these sources, the seed and the size only
_ORACLE_SOURCES = ("oracle/matcher.py", "kernel/pairscore.py", "kernel/fuzz.py",
                   "kernel/translit.py", "fixtures/persons.py", "config.py")


def _match_items(matches, consolidated_ids) -> set:
    items = {("m", o, v, round(s, 9)) for o, v, s in matches}
    items |= {("c", i, n) for i, n in Counter(consolidated_ids).items()}
    return items


class RecordMatch:
    """The reference's own job: ``SparkMatcher.match_and_consolidate`` over
    seeded RU person records loaded from CSV, checked against the oracle."""

    name = "record-match"
    items_metric = "match_records_per_s"
    # a job takes about half the window: without a floor a run would
    # measure one job or two, as the host's speed happens to fall; the
    # median of three leaves out one slow job
    min_ops = 3

    def __init__(self, run):
        from fuzzy_matching_spark.config import FuzzyAlgorithm, MatchConfig, MatchFieldConfig
        from fuzzy_matching_spark.fixtures.persons import generate_person_pair

        self.run = run
        self.config = MatchConfig(
            fields=[MatchFieldConfig("Фамилия", 0.4), MatchFieldConfig("Имя", 0.3),
                    MatchFieldConfig("Отчество", 0.2), MatchFieldConfig("email", 0.1)],
            threshold=0.7, block_field="Фамилия", sort_before_match=True,
            fuzzy_algorithm=FuzzyAlgorithm.TOKEN_SORT)
        orig, var = generate_person_pair(MATCH_N, seed=run.seed)
        self.paths = []
        for side, recs in (("originals", orig), ("variants", var)):
            p = os.path.join(run.work, f"{side}.csv")
            with open(p, "w", newline="", encoding="utf-8") as f:
                w = csv.DictWriter(f, fieldnames=list(recs[0]))
                w.writeheader()
                w.writerows(recs)
            self.paths.append(p)
        # load_csv trims every value, so the oracle sees trimmed records too
        orig = [{k: v.strip() for k, v in r.items()} for r in orig]
        var = [{k: v.strip() for k, v in r.items()} for r in var]
        self.want = self._oracle(orig, var)
        self.last = None

    def _oracle(self, orig, var) -> set:
        """The oracle's answer, cached per seed and oracle source: it is
        quadratic in the block size and costs seconds at this size."""
        from fuzzy_matching_spark.oracle.matcher import OracleMatcher

        h = hashlib.sha256(f"{self.run.seed}:{MATCH_N}:{self.config!r}".encode())
        for rel in _ORACLE_SOURCES:
            with open(os.path.join(self.run.root, "fuzzy_matching_spark", rel), "rb") as f:
                h.update(f.read())
        path = os.path.join(self.run.cache, f"oracle-{h.hexdigest()[:20]}.json")
        if os.path.exists(path):
            with open(path) as f:
                ans = json.load(f)
        else:
            matches, consolidated = OracleMatcher(self.config).match_and_consolidate(orig, var)
            ans = {"matches": [[m["Оригинал"]["id"], m["Вариант"]["id"], m["Схожесть"]]
                               for m in matches],
                   "consolidated": [r["id"] for r in consolidated]}
            os.makedirs(self.run.cache, exist_ok=True)
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(ans, f)
            os.replace(tmp, path)
        return _match_items(ans["matches"], ans["consolidated"])

    def _load(self):
        from fuzzy_matching_spark.io.readers import load_csv

        return [load_csv(self.run.spark, p) for p in self.paths]

    def op(self) -> int:
        from fuzzy_matching_spark.operators.greedy_match import SparkMatcher

        df1, df2 = self._load()
        matcher = SparkMatcher(self.config)
        matches, consolidated = matcher.match_and_consolidate(df1, df2)
        m, c = matches.collect(), consolidated.collect()
        matcher.unpersist()
        self.last = (m, c, matcher.last_strategy)
        return 2 * MATCH_N

    def check(self) -> tuple[bool, dict, float]:
        m, c, strategy = self.last
        got = _match_items([(r["Оригинал"]["id"], r["Вариант"]["id"], r["Схожесть"]) for r in m],
                           [r["id"] for r in c])
        agreement = stats.set_agreement(got, self.want)
        named = {"match_oracle_agreement": (agreement, "share"),
                 "matches": (len(m), "count")}
        print(f"record-match strategy: {strategy}", flush=True)
        return agreement == 1.0, named, agreement

    def traced(self, tracer) -> dict:
        from fuzzy_matching_spark.operators.greedy_match import SparkMatcher

        with tracer.label("io"):
            df1, df2 = self._load()
            df1.count()
            df2.count()
        matcher = SparkMatcher(self.config)
        with tracer.label("match.prepare"):
            # the eager part of the call: driver-gate probe, input pin, stats
            matches, consolidated = matcher.match_and_consolidate(df1, df2)
        with tracer.label("match.pairs"):
            matches.collect()
        with tracer.label("match.consolidate"):
            consolidated.collect()
        matcher.unpersist()
        return {"io.scan_s": tracer.walls["io"],
                "match.prepare_s": tracer.walls["match.prepare"],
                "match.consolidate_s": tracer.walls["match.consolidate"]}

    def untraced_layers(self) -> dict:
        return {}

    @staticmethod
    def from_event_log(ev: stats.EventLogReduction) -> dict:
        scored = ev.node_rows("match", "ArrowEvalPython")
        edges = ev.scope_records_read("match", "FlatMapGroupsInPandas")
        return {"match.score_s": ev.scope_wall_s("match", "ArrowEvalPython"),
                "match.greedy_s": ev.scope_wall_s("match", "FlatMapGroupsInPandas"),
                "match.pairs_scored": scored,
                "match.edges_over_scored": edges / scored if scored else 0.0}


class StreamReplay:
    """Incremental ingest, the streaming layer: a seeded corpus replayed one
    landing file per micro-batch through ``stream_lsh_candidates`` (word
    3-shingles).  Each batch reads the band index while it appends to it and
    to the pair sink."""

    def __init__(self, run):
        from fuzzy_matching_spark.config import DedupConfig
        from fuzzy_matching_spark.fixtures.corpus import generate_corpus

        self.run = run
        self.config = DedupConfig(shingle_size=3, tokenize="word")
        fx = generate_corpus(STREAM_N_BASE, seed=run.seed)
        # shuffle within runs of STREAM_SHUFFLE_BATCHES files: a variant lands
        # in another batch than its base most of the time, so the cross-batch
        # index join finds it, yet near enough that both are ingested within
        # the measured window
        rng, rows, run_len = random.Random(run.seed), [], STREAM_SHUFFLE_BATCHES * STREAM_BATCH_DOCS
        for i in range(0, len(fx.rows), run_len):
            chunk = fx.rows[i:i + run_len]
            rng.shuffle(chunk)
            rows.extend(chunk)
        docs = [{"doc_id": i, **r} for i, r in enumerate(rows)]
        self.content = {d["doc_id"]: d["content"] for d in docs}
        key_id = {(d["repo"], d["path"], d["commit"]): d["doc_id"] for d in docs}
        self.planted = [(key_id[(t["src_repo"], t["src_path"], t["src_commit"])],
                         key_id[(t["dst_repo"], t["dst_path"], t["dst_commit"])])
                        for t in fx.truth]
        self.stage = os.path.join(run.work, "stage")
        self.land = os.path.join(run.work, "land")
        os.makedirs(self.land)
        _write_parquet(docs, self.stage, -(-len(docs) // STREAM_BATCH_DOCS))
        self.dirs = {k: os.path.join(run.work, "stream", k)
                     for k in ("index_dir", "pairs_dir", "checkpoint_dir")}
        self.progress = []

    def window(self, seconds: float) -> int:
        """One streaming query: warm-up batches, then ``seconds`` of measured
        batches.  Files arrive in a closed loop, one landing while the
        previous batch runs, so the query never waits for input; after the
        window no more land, and the query is stopped once it has drained
        them, never inside a batch.  Keeps every completed batch's progress
        record in ``progress``; returns 1 if the query failed, else 0."""
        from fuzzy_matching_spark.streaming import read_document_stream, stream_lsh_candidates

        files = sorted(os.listdir(self.stage))
        landed = 0

        def land(n: int) -> None:
            nonlocal landed
            for name in files[landed:n]:
                os.rename(os.path.join(self.stage, name), os.path.join(self.land, name))
            landed = max(landed, min(n, len(files)))

        land(2)
        stream = read_document_stream(self.run.spark, self.land, max_files_per_trigger=1)
        q = stream_lsh_candidates(stream, config=self.config, available_now=False, **self.dirs)
        self.run_id = str(q.runId)
        t_end = None
        try:
            while q.isActive:
                done = len(self._done(q))
                if t_end is None and done >= STREAM_WARMUP_BATCHES:
                    t_end = time.perf_counter() + seconds
                if t_end is None or time.perf_counter() < t_end:
                    land(done + 2)
                if done >= landed and (t_end is not None or landed == len(files)):
                    break
                time.sleep(STREAM_POLL_S)
            self.progress = self._done(q)
        finally:
            q.stop()
        return 0 if q.exception() is None else 1

    @staticmethod
    def _done(q) -> list[dict]:
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def figures(self) -> tuple[bool, dict, dict]:
        """(recall check passed, named figures, per-layer figures)."""
        from fuzzy_matching_spark.operators.minhash import shingle_hashes

        spark = self.run.spark
        index = spark.read.parquet(self.dirs["index_dir"])
        # a document is ingested once its batch appended it to the index, the
        # last write of a batch; its candidate pairs were written before that
        seen = {r.doc_id for r in index.select("doc_id").distinct().collect()}
        found = {frozenset((r.id_a, r.id_b)) for r in spark.read.parquet(self.dirs["pairs_dir"])
                 .select("id_a", "id_b").collect()}
        k, mode = self.config.shingle_size, self.config.tokenize
        truth = [(a, b) for a, b in self.planted if a in seen and b in seen
                 and _jaccard(shingle_hashes(self.content[a], k, mode),
                              shingle_hashes(self.content[b], k, mode))
                 >= self.config.verify_threshold]
        recall = sum(frozenset(p) in found for p in truth) / len(truth)
        bf = batch_figures(self.progress[STREAM_WARMUP_BATCHES:])
        named = {"stream_candidate_recall": (recall, "share"),
                 "stream_truth_pairs": (len(truth), "count"),
                 "stream_docs_per_s": (bf["docs"] / bf["span_s"], "1/s"),
                 "stream_batch_p50_ms": (bf["p50_ms"], "ms"),
                 "stream_batch_p90_ms": (bf["p90_ms"], "ms"),
                 "stream_batches_measured": (bf["n"], "count"),
                 "stream_batches_beyond_p90": (bf["beyond_p90"], "count"),
                 "stream_batch_walls_ms": (
                     [p["durationMs"]["triggerExecution"] for p in self.progress], "ms")}
        layers = {"stream.trigger_ms": bf["p50_ms"], "stream.add_batch_ms": bf["add_batch_p50_ms"],
                  "stream.index_rows": index.count()}
        return recall >= 0.99, named, layers


def batch_figures(progress: list[dict]) -> dict:
    """Latency and rate of measured micro-batches from their progress records."""
    from datetime import datetime

    def start(p):
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    span = start(progress[-1]) + trig[-1] / 1e3 - start(progress[0])
    return {"n": len(progress), "docs": sum(p["numInputRows"] for p in progress),
            "p50_ms": stats.percentile(trig, 50), "p90_ms": stats.percentile(trig, 90),
            "add_batch_p50_ms": stats.percentile(add, 50), "span_s": span,
            "beyond_p90": stats.samples_beyond(len(trig), 90)}


WORKLOADS = {w.name: w for w in (CorpusDedup, RecordMatch)}

