"""The benchmark's workloads, each driven only through the package's
public functions.

A workload has four phases, called in this order by ``run.py``:

* ``generate(spark)`` seeded inputs on disk (the benchmark's own work;
                   excluded from ``setup_s``);
* ``setup(spark)`` the program's set-up: static side inputs and one
                   warm-up call (part of ``setup_s``);
* ``op(spark)``    one timed operation, full output forced, then
                   checked; returns an ``Op``;
* ``trace(...)``   a layered re-run with each layer's input persisted
                   first, giving the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.operators import dedup
from bigdata_event_stream_detection_spark.operators import em as em_ops
from bigdata_event_stream_detection_spark.operators import hmm as hmm_ops
from bigdata_event_stream_detection_spark.operators import kernels
from bigdata_event_stream_detection_spark.operators import windows as win
from bigdata_event_stream_detection_spark.operators.transitions import (
    theme_transitions,
)
from bigdata_event_stream_detection_spark.plans.pipeline import (
    detect_event_stream,
    evolution_graph,
    small_params,
)
from bigdata_event_stream_detection_spark.sources import tokenize
from bigdata_event_stream_detection_spark.sources.synthetic import (
    PlantedHmm,
    generate_sequences,
)
from bigdata_event_stream_detection_spark.streaming.engine import (
    read_sequence_stream,
    start_event_sink,
    streaming_detect_events,
)

from perfbench.gen import text_documents
from perfbench.probes import ProgressLog, Tracer

# reference-strength compute on ~720-doc 24 h windows, as in
# tools/scaling_bench.py
PARAMS = small_params(num_themes=3, window_length="24 hours",
                      em_iterations=25, min_doc_tokens=5,
                      min_word_corpus_count=2, bw_max_iterations=10,
                      watermark_delay="10 minutes")
WINDOW_S = 24 * 3600

SEQ_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("event_time", pa.timestamp("us")),
])


def force(df) -> None:
    """Run ``df`` to its full output. A ``count()`` would let the
    optimizer prune every column the count does not need."""
    df.write.format("noop").mode("overwrite").save()


def rows_hash(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def event_rows(pdf: pd.DataFrame) -> list[tuple]:
    """(window_start ns, source, theme_id, strength) tuples."""
    ws = pd.to_datetime(pdf["window_start"]).astype("int64")
    return list(zip(ws.tolist(), pdf["source"].tolist(),
                    pdf["theme_id"].astype(int).tolist(),
                    pdf["strength"].astype(int).tolist()))


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Op:
    wall_s: float
    samples_s: list[float]   # per-operation latencies (triggers or walls)
    ok: bool
    info: dict = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)   # perf_counter start, end


class StreamDetect:
    """Planted-HMM documents replayed as event-time-ordered files through
    ``streaming_detect_events`` -> ``start_event_sink`` (availableNow).
    Each file spans 18 h of a 24 h window, so every window's state lives
    across two triggers. A far-future sentinel document closes the last window,
    after which the stream output must equal ``detect_event_stream``."""

    name = "stream_detect"
    DAYS = 2
    FILE_DOCS = 540          # 18 h of documents per trigger

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.in_dir = os.path.join(work, "stream_in")
        self.warm_dir = os.path.join(work, "warm")
        self.n_docs = self.DAYS * 24 * 3600 // 120
        self.progress = ProgressLog()
        self._ops = 0

    def generate(self, spark):
        # no late arrivals: the files replay the stream in event-time order
        pdf = generate_sequences(spark, self.n_docs,
                                 PlantedHmm(seed=self.seed),
                                 late_fraction=0.0).toPandas()
        pdf = pdf.sort_values(["event_time", "doc_id"], ignore_index=True)
        os.makedirs(self.in_dir)
        now = time.time()
        names = []
        for i in range(0, len(pdf), self.FILE_DOCS):
            names.append(os.path.join(self.in_dir, f"part_{i:07d}.parquet"))
            pq.write_table(pa.Table.from_pandas(
                pdf.iloc[i:i + self.FILE_DOCS], schema=SEQ_SCHEMA,
                preserve_index=False), names[-1])
        # n_tok 3 < min_doc_tokens: filtered from every output, but its
        # event time moves the watermark past the last real window
        sentinel = pd.DataFrame({
            "doc_id": ["SENTINEL-0"], "tokens": [[0, 1, 2]], "n_tok": [3],
            "source": ["GDL"],
            "event_time": [pdf["event_time"].max() + pd.Timedelta(days=30)]})
        names.append(os.path.join(self.in_dir, "zz_sentinel.parquet"))
        pq.write_table(pa.Table.from_pandas(
            sentinel, schema=SEQ_SCHEMA, preserve_index=False), names[-1])
        # the warm-up slice: 360 docs, then the same sentinel
        os.makedirs(self.warm_dir)
        for name, part in (("warm.parquet", pdf.iloc[:360]),
                           ("zz_sentinel.parquet", sentinel)):
            names.append(os.path.join(self.warm_dir, name))
            pq.write_table(pa.Table.from_pandas(
                part, schema=SEQ_SCHEMA, preserve_index=False), names[-1])
        for j, f in enumerate(names):   # the file source reads by mtime
            os.utime(f, (now - len(names) + j, now - len(names) + j))

    def _sequences(self, spark):
        return spark.read.schema(
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "event_time timestamp").parquet(self.in_dir)

    def setup(self, spark):
        seqs = self._sequences(spark)
        self.model = em_ops.collect_background(bg.background_model(
            win.filter_docs(seqs, min_tokens=PARAMS.min_doc_tokens),
            min_count=PARAMS.min_word_corpus_count))
        # warm-up on the slice: the batch detector, then the stream (when
        # only the batch path was warmed, the first timed backfill ran up
        # to 25% slower than the next)
        force(detect_event_stream(spark.read.parquet(self.warm_dir), PARAMS,
                                  model=self.model))
        q = self._backfill(spark, self.warm_dir)[0]
        if q.exception() is not None:
            raise RuntimeError(f"warm-up backfill failed: {q.exception()}")

    def begin(self, spark):
        """Register the trigger listener and compute the batch truth."""
        spark.streams.addListener(self.progress)
        if hasattr(self, "ref_rows"):
            return
        ref = detect_event_stream(self._sequences(spark), PARAMS,
                                  model=self.model).toPandas()
        self.ref_rows = sorted(event_rows(ref))
        self.ref_hash = rows_hash(self.ref_rows)

    def _backfill(self, spark, in_dir: str):
        """One availableNow backfill of ``in_dir`` into a fresh parquet
        sink; returns (query, events, sink path, wall seconds)."""
        out = os.path.join(self.work, f"out_{self._ops}")
        ckpt = os.path.join(self.work, f"ckpt_{self._ops}")
        self._ops += 1
        t0 = time.perf_counter()
        events = streaming_detect_events(
            read_sequence_stream(spark, in_dir, max_files_per_trigger=1),
            self.model, PARAMS)
        q = start_event_sink(events, out, ckpt, available_now=True)
        q.awaitTermination()
        return q, events, out, time.perf_counter() - t0

    def op(self, spark) -> Op:
        self.progress.reset()
        q, events, out, wall = self._backfill(spark, self.in_dir)
        if q.exception() is not None:
            return Op(wall, [], False, {"error": str(q.exception())})
        n_trig = len(q.recentProgress)
        self.progress.wait_for(n_trig)
        with self.progress._lock:
            prog = list(self.progress.progress)
            dur = list(self.progress.durations)
        got = sorted(event_rows(spark.read.parquet(out).toPandas()))
        states = [s for p in prog for s in (p["state"] or [])]
        info = {
            "triggers": len(prog),
            "commit_ms": [s.get("commitTimeMs", 0) for s in states],
            "state_bytes": [s.get("memoryUsedBytes", 0) for s in states],
            "state_rows": [s.get("numRowsTotal", 0) for s in states],
            "add_batch_ms": [d.get("addBatch", 0) for d in dur],
            "planning_ms": [d.get("queryPlanning", 0) for d in dur],
            "wal_commit_ms": [d.get("walCommit", 0) for d in dur],
            "dropped_docs": events.dropped_docs_acc.value,
            "hash": rows_hash(got),
        }
        samples = [(p["batch_duration_ms"] or 0) / 1000.0 for p in prog]
        ok = (got == self.ref_rows and len(prog) == n_trig
              and info["dropped_docs"] == 0)
        return Op(wall, samples, ok, info)

    def e2e(self, ops: list[Op]) -> dict:
        return {
            "docs_per_s": self.n_docs / median([o.wall_s for o in ops]),
            "op_p50_s": median([s for o in ops for s in o.samples_s]),
        }

    def layers_untraced(self, ops: list[Op]) -> dict:
        trig = sorted(s for o in ops for s in o.samples_s)
        pool = {k: [v for o in ops for v in o.info.get(k, [])]
                for k in ("commit_ms", "state_bytes", "state_rows",
                          "add_batch_ms", "planning_ms", "wal_commit_ms")}
        return {
            "trigger.count": len(trig),
            "trigger.p90_s": (statistics.quantiles(trig, n=10,
                                                   method="inclusive")[-1]
                              if len(trig) > 1 else median(trig)),
            "trigger.add_batch_ms": median(pool["add_batch_ms"]),
            "trigger.planning_ms": median(pool["planning_ms"]),
            "trigger.wal_commit_ms": median(pool["wal_commit_ms"]),
            "state.commit_ms": median(pool["commit_ms"]),
            "state.bytes_max": max(pool["state_bytes"], default=0),
            "state.rows_max": max(pool["state_rows"], default=0),
            "stream.dropped_docs": sum(o.info.get("dropped_docs", 0)
                                       for o in ops),
        }

    def trace(self, spark, tr: Tracer, untraced_wall: float):
        """Per-layer run. Returns (metrics, traced-op window, ok)."""
        m = {}
        t0 = time.time()
        with tr.span("stream.backfill"):
            op = self.op(spark)
        t1 = time.time()
        m["trace.overhead_s"] = op.wall_s - untraced_wall
        ok = op.ok

        seqs = win.filter_docs(self._sequences(spark),
                               min_tokens=PARAMS.min_doc_tokens).persist()
        seqs.count()
        with tr.span("background.model"):
            model = em_ops.collect_background(bg.background_model(
                seqs, min_count=PARAMS.min_word_corpus_count))
        m["background.model_s"] = tr.seconds("background.model")
        m["background.vocab"] = len(model)
        windowed = win.with_time_window(
            seqs, length=PARAMS.window_length).persist()
        windowed.count()
        with tr.span("em.themes"):
            themes = em_ops.em_themes(
                windowed, model, k=PARAMS.num_themes,
                iterations=PARAMS.em_iterations,
                lambda_b=PARAMS.lambda_background, runs=1).persist()
            force(themes)
        m["em.themes_s"] = tr.seconds("em.themes")
        m["em.windows"] = themes.select("window_start").distinct().count()
        with tr.span("hmm.pooled"):
            pooled = hmm_ops.detect_events_pooled(
                windowed, model, k=PARAMS.num_themes,
                em_iterations=PARAMS.em_iterations,
                lambda_b=PARAMS.lambda_background,
                score_floor=PARAMS.theme_score_floor_factor
                / PARAMS.num_themes,
                max_iterations=PARAMS.bw_max_iterations,
                pi_threshold=PARAMS.bw_pi_threshold,
                a_threshold=PARAMS.bw_a_threshold).toPandas()
        m["hmm.pooled_s"] = tr.seconds("hmm.pooled")
        m["hmm.self_s"] = m["hmm.pooled_s"] - m["em.themes_s"]
        ok = ok and rows_hash(event_rows(pooled)) == self.ref_hash

        kept = em_ops.filter_themes(themes, PARAMS.num_themes,
                                    PARAMS.theme_score_floor_factor).persist()
        kept_pdf = kept.select("window_start").toPandas()
        with tr.span("transitions.kl"):
            edges = theme_transitions(
                kept, window_length_seconds=WINDOW_S,
                threshold=PARAMS.kl_threshold, divergence=PARAMS.divergence,
                eps=PARAMS.kl_epsilon, log_max=PARAMS.kl_log_max).toPandas()
        m["transitions.kl_s"] = tr.seconds("transitions.kl")
        m["transitions.edges"] = len(edges)
        per_w = kept_pdf["window_start"].value_counts()
        nxt = per_w.reindex(per_w.index + pd.Timedelta(seconds=WINDOW_S))
        m["transitions.pairs"] = int(
            (per_w.to_numpy() * nxt.fillna(0).to_numpy()).sum())
        m.update(self._kernels(windowed, model))
        for df in (seqs, windowed, themes, kept):
            df.unpersist()

        with tr.span("evolution"):
            force(evolution_graph(self._sequences(spark), PARAMS))
        m["evolution.s"] = tr.seconds("evolution")
        spark.catalog.clearCache()
        with tr.span("batch.detect"):
            force(detect_event_stream(self._sequences(spark), PARAMS,
                                      model=self.model))
        m["batch.docs_per_s"] = self.n_docs / tr.seconds("batch.detect")
        return m, (t0, t1), ok

    def cores1(self, spark, tr: Tracer, m: dict):
        """Single-core baseline on the same input (a local[1] session)."""
        with tr.span("batch.detect_cores1"):
            force(detect_event_stream(self._sequences(spark), PARAMS,
                                      model=self.model))
        m["batch.cores1_docs_per_s"] = (
            self.n_docs / tr.seconds("batch.detect_cores1"))
        m["batch.parallel_eff"] = (
            m["batch.docs_per_s"] / m["batch.cores1_docs_per_s"] / self.cores)

    def _kernels(self, windowed, model) -> dict:
        """em_fit / baum_welch / viterbi on the median-size window, on the
        driver with no Spark in the loop."""
        sizes = windowed.groupBy("window_start").count().toPandas()
        sizes = sizes.sort_values(["count", "window_start"])
        ws = sizes["window_start"].iloc[len(sizes) // 2]
        toks = windowed.filter(F.col("window_start") == F.lit(ws)) \
            .select("doc_id", "tokens").toPandas() \
            .sort_values("doc_id")["tokens"]
        vocab = np.unique(np.concatenate(toks.to_numpy()))
        counts = np.zeros((len(toks), len(vocab)))
        for d, t in enumerate(toks):
            np.add.at(counts[d], np.searchsorted(vocab, t), 1.0)
        bgm = model.set_index("word_id")["p"]
        p_bg = bgm.reindex(vocab).fillna(1e-12).to_numpy()
        p_bg = p_bg / p_bg.sum()
        obs = np.searchsorted(vocab, np.concatenate(toks.to_numpy()))
        ms = {"em": [], "bw": [], "vit": []}
        for _ in range(3):
            t = time.perf_counter()
            theta, _, _ = kernels.em_fit(
                counts, p_bg, PARAMS.num_themes,
                iterations=PARAMS.em_iterations,
                lambda_b=PARAMS.lambda_background)
            ms["em"].append(time.perf_counter() - t)
            pi0, a0, b = kernels.hmm_assemble(p_bg, theta)
            t = time.perf_counter()
            pi, a, _, _ = kernels.baum_welch(
                obs, pi0, a0, b, max_iterations=PARAMS.bw_max_iterations,
                pi_threshold=PARAMS.bw_pi_threshold,
                a_threshold=PARAMS.bw_a_threshold)
            ms["bw"].append(time.perf_counter() - t)
            t = time.perf_counter()
            kernels.viterbi(obs, pi, a, b)
            ms["vit"].append(time.perf_counter() - t)
        em_s, bw_s, vit_s = (median(ms[k]) for k in ("em", "bw", "vit"))
        return {"kernels.em_fit_ms": em_s * 1e3,
                "kernels.baum_welch_ms": bw_s * 1e3,
                "kernels.viterbi_ms": vit_s * 1e3,
                "kernels.tokens_per_s": len(obs) / (em_s + bw_s + vit_s)}


NGRAM_K = 3
NGRAM_THRESHOLD = 0.8

# DuckDB twin of operators.dedup.ngram_jaccard_pairs: ascii_words ->
# 3-word shingles (a shorter doc is one shingle) -> shared-shingle
# self-join -> jaccard
_NGRAM_SQL = f"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             x -> x <> '') AS ws
  FROM docs),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[i + 1:i + {NGRAM_K}], ' ') AS shingle
  FROM (SELECT doc_id, ws,
               unnest(range(0, greatest(len(ws) - {NGRAM_K} + 1, 1))) AS i
        FROM w)),
n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc1, doc2,
       common / (n1.n_sh + n2.n_sh - common) AS jaccard
FROM c JOIN n n1 ON n1.doc_id = c.doc1 JOIN n n2 ON n2.doc_id = c.doc2
WHERE common / (n1.n_sh + n2.n_sh - common) >= {NGRAM_THRESHOLD}
"""


class TextDedup:
    """Raw text through ``sources.tokenize`` and ``operators.dedup``:
    ``build_lexicon`` + ``documents_to_sequences``, then
    ``lsh_candidate_pairs`` and ``ngram_jaccard_pairs``. The n-gram
    pairs are re-derived by DuckDB.

    ``dedup_clusters`` runs in the traced run only: its driver-side
    label-propagation loop took 2 to 30 s on 200 docs depending on the
    seed (2 to 4 rounds, each planned over a longer lineage), more
    spread than the end-to-end bounds allow."""

    name = "text_dedup"
    N_DOCS = 300

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.docs_dir = os.path.join(work, "docs")
        self.n_docs = self.N_DOCS

    def generate(self, spark):
        pdf, self.planted = text_documents(self.n_docs, self.seed)
        os.makedirs(self.docs_dir)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(self.docs_dir, "docs.parquet"))
        con = duckdb.connect()
        try:
            con.register("docs", pdf)
            exp = con.execute(_NGRAM_SQL).df()
        finally:
            con.close()
        self.expected = {(int(a), int(b)): j for a, b, j in
                         exp.itertuples(index=False)}
        self.n_words = int(pdf["text"].str.lower()
                           .str.count(r"[a-z]+").sum())

    def setup(self, spark):
        # the warm-up is one operation on the full input: after a warm-up
        # on a slice, the first timed operation still ran 10-25% slower
        # than the next ones while the JVM compiled its code
        self.op(spark)

    def begin(self, spark):
        pass

    def _check_ngram(self, pdf: pd.DataFrame) -> bool:
        got = {(int(a), int(b)): j for a, b, j in pdf.itertuples(index=False)}
        return got.keys() == self.expected.keys() and all(
            abs(got[k] - self.expected[k]) <= 1e-6 for k in got)

    def _check_clusters(self, pdf: pd.DataFrame) -> bool:
        reps = pdf[pdf["is_representative"] == 1]
        return (len(pdf) == self.n_docs
                and pdf["doc_id"].nunique() == self.n_docs
                and bool((pdf["cluster_id"] <= pdf["doc_id"]).all())
                and set(reps["cluster_id"]) == set(pdf["cluster_id"])
                and len(reps) == pdf["cluster_id"].nunique())

    def op(self, spark) -> Op:
        docs = spark.read.parquet(self.docs_dir)
        t0 = time.perf_counter()
        force(tokenize.documents_to_sequences(
            docs, tokenize.build_lexicon(docs)))
        t1 = time.perf_counter()
        pairs = dedup.lsh_candidate_pairs(docs).toPandas()
        t2 = time.perf_counter()
        ngram = dedup.ngram_jaccard_pairs(
            docs, NGRAM_K, NGRAM_THRESHOLD).toPandas()
        t3 = time.perf_counter()
        spark.catalog.clearCache()
        found = {(int(a), int(b)) for a, b in pairs.itertuples(index=False)}
        ok = (self._check_ngram(ngram) and len(found) == len(pairs)
              and all(0 <= a < b < self.n_docs for a, b in found))
        return Op(t3 - t0, [t3 - t0], ok, {
            "phases_s": [t1 - t0, t2 - t1, t3 - t2],
            "planted_found": len(found & set(self.planted)),
            "hash": rows_hash(list(ngram.itertuples(index=False))
                              + sorted(found))})

    def e2e(self, ops: list[Op]) -> dict:
        wall = median([o.wall_s for o in ops])
        return {"docs_per_s": self.n_docs / wall, "op_p50_s": wall}

    def layers_untraced(self, ops: list[Op]) -> dict:
        return {}

    def trace(self, spark, tr: Tracer, untraced_wall: float):
        m = {}
        docs = spark.read.parquet(self.docs_dir).persist()
        docs.count()
        t0 = time.time()
        with tr.span("tokenize.lexicon"):
            lex = tokenize.build_lexicon(docs).persist()
            n_lex = lex.count()
        with tr.span("tokenize.encode"):
            seqs = tokenize.documents_to_sequences(docs, lex).persist()
            force(seqs)
        with tr.span("dedup.lsh"):
            pairs = dedup.lsh_candidate_pairs(docs).persist()
            n_pairs = pairs.count()
        with tr.span("dedup.clusters"):
            clusters = dedup.dedup_clusters(docs, pairs).toPandas()
        with tr.span("dedup.ngram"):
            ngram = dedup.ngram_jaccard_pairs(
                docs, NGRAM_K, NGRAM_THRESHOLD).toPandas()
        t1 = time.time()
        ok = (self._check_ngram(ngram) and self._check_clusters(clusters)
              and seqs.agg(F.sum("n_tok")).collect()[0][0] == self.n_words)
        # the timed operation's layers (dedup_clusters is not in it)
        layered = sum(tr.seconds(n) for n in (
            "tokenize.lexicon", "tokenize.encode", "dedup.lsh",
            "dedup.ngram"))
        m["trace.overhead_s"] = layered - untraced_wall
        m["tokenize.lexicon_s"] = tr.seconds("tokenize.lexicon")
        m["tokenize.encode_s"] = tr.seconds("tokenize.encode")
        m["tokenize.words_per_s"] = self.n_words / m["tokenize.encode_s"]
        m["tokenize.lexicon_words"] = n_lex
        m["tokenize.map_literal"] = int(n_lex <= tokenize._MAP_LITERAL_LIMIT)
        m["dedup.lsh_s"] = tr.seconds("dedup.lsh")
        m["dedup.clusters_s"] = tr.seconds("dedup.clusters")
        m["dedup.ngram_s"] = tr.seconds("dedup.ngram")
        m["dedup.candidate_pairs"] = n_pairs
        found = {(int(a), int(b)) for a, b in
                 pairs.toPandas().itertuples(index=False)}
        m["dedup.planted_pairs"] = len(self.planted)
        m["dedup.planted_found"] = len(found & set(self.planted))
        band = dedup.band_signatures(docs).groupBy("band", "band_sig") \
            .count().toPandas()["count"].to_numpy(np.int64)
        shing = dedup.doc_shingles(docs, NGRAM_K).groupBy("shingle") \
            .count().toPandas()["count"].to_numpy(np.int64)
        m["dedup.max_bucket"] = int(max(band.max(initial=0),
                                        shing.max(initial=0)))
        m["dedup.bucket_join_rows"] = int((band ** 2).sum()
                                          + (shing ** 2).sum())
        m["dedup.useful_ratio"] = len(ngram) / max(1, int((shing ** 2).sum()))
        spark.catalog.clearCache()
        return m, (t0, t1), ok


WORKLOADS = {w.name: w for w in (StreamDetect, TextDedup)}
