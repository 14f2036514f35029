"""Workload ``doc_front_door``: ``front_door_stream`` with all five gates.

Set-up builds the gates' static artifacts from seeded documents in the
shape of the sf0.1 ``documents``/``embeddings`` test tables (a 30-word
vocabulary, 64-d float vectors): the at-rest corpus, a BPE lexicon,
DSIR weights, the document-embedding table and the eval vectors.  The
stream then reads a pre-loaded backlog of ``JsonDirSource`` files, one
file per micro-batch (``_parse_doc_stream`` reads one file per
trigger).  Its first batch is a small untimed warm-up; the timed
region starts with the second batch, when every later document counts
as offered, and ends at the last commit.

The session runs with as many shuffle partitions as cores: at the
session default of 32 one batch takes about 40 s on 4 cores, which the
benchmark's run budget cannot hold.

Fixed shares of the documents fall to each gate: low quality, exact
re-sends (case/space variants of an earlier batch's document), near
copies of corpus documents, off-target text for DSIR, embeddings close
to an eval vector, and no embedding at all (fail closed).  The check
composes the same gate operators over the union of the batches, as
``test_front_door_stream_chains_all_five_gates`` does, and compares
the landed documents and token encodings.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from perfbench import common, streamlog

#: the sf0.1 documents table draws its text from this vocabulary
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
OFF_VOCAB = "lorem ipsum dolor sit amet elit sed tempor magna aliqua".split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
DIM = 64
N_CORPUS, N_OFF, N_EVALS = 300, 300, 32
WARM_DOCS = 10
#: one timed backlog file (= one micro-batch) per this many seconds of
#: ``--seconds``, at least two, so that the median batch time is not
#: the drain time
SECONDS_PER_FILE, DOCS_PER_FILE = 5, 100
#: share of the stream that falls to each gate (the rest survive)
SHARES = (
    ("low_quality", 0.08),
    ("resend", 0.08),
    ("near_copy", 0.08),
    ("off_target", 0.08),
    ("contaminated", 0.07),
    ("no_embedding", 0.07),
)
MIN_TOKENS, MIN_ALPHA, MIN_JACCARD, MIN_LOGRATIO, THRESHOLD = 5, 0.3, 0.5, 0.0, 0.99
BPE_ROUNDS = 2


def _words(rng: random.Random, vocab, lo: int = 6, hi: int = 20) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def _unit(rng: random.Random) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


class DocWorld:
    """Every input of one run, made from the seed: static artifact rows
    and the stream documents, batch by batch."""

    def __init__(self, seed: int, n_files: int) -> None:
        rng = random.Random(seed)
        self.corpus = [(i, rng.choice(LANGS), _words(rng, VOCAB)) for i in range(1, N_CORPUS + 1)]
        self.off = [_words(rng, OFF_VOCAB) for _ in range(N_OFF)]
        self.evals = [(900_000 + i, _unit(rng)) for i in range(N_EVALS)]
        self.embeddings: list[tuple[int, list[float]]] = []
        self.kinds: dict[int, str] = {}
        #: batch 0 is the warm-up, the rest the timed backlog
        self.batches: list[list[tuple[int, str, str]]] = []
        for b in range(n_files + 1):
            earlier = [d for bt in self.batches for d in bt if self.kinds[d[0]] == "survive"]
            n = DOCS_PER_FILE if b else WARM_DOCS
            self.batches.append(self._batch(rng, 100_000 + b * 10_000, n, earlier))

    def _batch(self, rng, id0: int, n: int, earlier) -> list[tuple[int, str, str]]:
        docs = []
        for i in range(n):
            doc_id = id0 + i
            u, kind, acc = rng.random(), "survive", 0.0
            for name, share in SHARES:
                acc += share
                if u < acc:
                    kind = name
                    break
            if kind == "resend" and not earlier:
                kind = "survive"
            lang, text = rng.choice(LANGS), _words(rng, VOCAB)
            vec = _unit(rng)
            if kind == "low_quality":
                text = " ".join(str(rng.randint(10, 99)) for _ in range(rng.randint(6, 20)))
            elif kind == "resend":
                _, lang, orig = rng.choice(earlier)
                text = "  " + orig.upper().replace(" ", "   ") + " "
            elif kind == "near_copy":
                # a new last word changes one 3-shingle of n - 2: the
                # Jaccard stays >= 0.6 for the shortest (6-word) text
                _, lang, orig = rng.choice(self.corpus)
                words = orig.split()
                words[-1] = rng.choice([w for w in VOCAB if w != words[-1]])
                text = " ".join(words)
            elif kind == "off_target":
                text = _words(rng, OFF_VOCAB)
            elif kind == "contaminated":
                base = rng.choice(self.evals)[1]
                vec = [x + rng.gauss(0.0, 0.002) for x in base]
            self.kinds[doc_id] = kind
            if kind != "no_embedding":
                self.embeddings.append((doc_id, vec))
            docs.append((doc_id, lang, text))
        return docs


def _write_file(path: str, docs) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for doc_id, lang, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "lang": lang, "text": text}) + "\n")
    os.rename(tmp, path)


def build_artifacts(spark, world: DocWorld, tracer: common.Tracer) -> dict:
    """The five static artifacts front_door_stream takes."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_train,
        dsir_fit_weights,
    )

    corpus = spark.createDataFrame(world.corpus, "doc_id long, lang string, text string")
    counts: dict[str, int] = {}
    for _, _, text in world.corpus:
        for w in text.split():
            counts[w] = counts.get(w, 0) + 1
    word_freq = spark.createDataFrame(sorted(counts.items()), "tok string, c long")
    with tracer.span("operators.call:bpe_train"):
        lexicon = bpe_train(word_freq, rounds=BPE_ROUNDS, emit="lexicon").localCheckpoint(eager=True)
    fit = spark.createDataFrame(
        [(t, True) for _, _, t in world.corpus] + [(t, False) for t in world.off],
        "text string, tgt boolean",
    )
    with tracer.span("operators.call:dsir_fit_weights"):
        weights = dsir_fit_weights(fit, F.col("tgt")).localCheckpoint(eager=True)
    return {
        "corpus": corpus.localCheckpoint(eager=True),
        "lexicon": lexicon,
        "weights": weights,
        "doc_embeddings": spark.createDataFrame(
            world.embeddings, "doc_id long, embedding array<double>"
        ),
        "evals": spark.createDataFrame(world.evals, "eval_id long, eval_vec array<double>"),
    }


def expected(spark, world: DocWorld, art: dict):
    """The batch composition of the five gates over the union of the
    batches: (doc_id → dsir_logratio, token rows)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semantic_contamination_flags,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
        document_fingerprint,
        dsir_score_with_weights,
        text_quality,
    )

    rows = [(d, lang, t, b, i) for b, bt in enumerate(world.batches)
            for i, (d, lang, t) in enumerate(bt)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, batch int, pos int"
    )
    quality = text_quality(docs).filter(
        (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA)
    )
    # first seen across batches; the generator never repeats a
    # fingerprint inside one batch
    first: dict[str, tuple[int, int]] = {}
    for r in document_fingerprint(quality).select("doc_id", "batch", "fingerprint").collect():
        key = (r["batch"], r["doc_id"])
        first[r["fingerprint"]] = min(first.get(r["fingerprint"], key), key)
    keep = [doc_id for _, doc_id in first.values()]
    # each gate's result is checkpointed, as the stream's batches are
    # independent plans: one unbroken plan re-runs every gate per action
    q_docs = quality.filter(F.col("doc_id").isin(keep)).select("doc_id", "lang", "text")
    hits = delta_corpus_jaccard_pairs(
        q_docs, art["corpus"], id_col="doc_id", block_cols=["lang"],
        min_jaccard=MIN_JACCARD, max_doc_freq=50,
    ).select(F.col("delta_id").alias("doc_id")).distinct()
    survivors = q_docs.join(hits, "doc_id", "left_anti").localCheckpoint(eager=True)
    scored = dsir_score_with_weights(survivors, art["weights"], id_col="doc_id")
    survivors = survivors.join(
        scored.filter(F.col("dsir_logratio") >= MIN_LOGRATIO).select("doc_id", "dsir_logratio"),
        "doc_id",
    ).localCheckpoint(eager=True)
    vecs = survivors.select("doc_id").join(art["doc_embeddings"], "doc_id").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    clean = (
        semantic_contamination_flags(vecs, art["evals"], threshold=THRESHOLD)
        .filter(~F.col("is_contaminated"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    survivors = survivors.join(clean, "doc_id", "left_semi").localCheckpoint(eager=True)
    want_docs = {r["doc_id"]: r["dsir_logratio"] for r in survivors.collect()}
    want_tokens = {
        (r["doc_id"], r["n_subwords"], tuple(r["subwords"]))
        for r in bpe_encode_with_lexicon(survivors, art["lexicon"]).collect()
    }
    return want_docs, want_tokens


class CallLog:
    """Wraps public functions of the program's modules so each call is
    timed; installed only in traced runs and removed afterwards."""

    def __init__(self) -> None:
        self.calls: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, fn_name: str, span: str) -> None:
        inner = getattr(module, fn_name)

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                self.calls.append((span, t0, time.time()))

        self._undo.append((module, fn_name, inner))
        setattr(module, fn_name, timed)

    def restore(self) -> None:
        for module, fn_name, inner in reversed(self._undo):
            setattr(module, fn_name, inner)
        self._undo.clear()


GATE_OPERATORS = (
    ("dedup", "delta_corpus_jaccard_pairs"),
    ("text", "dsir_score_with_weights"),
    ("similarity", "semantic_contamination_flags"),
    ("text", "bpe_encode_with_lexicon"),
    ("text", "text_quality"),
    ("text", "document_fingerprint"),
)


def _install(calls: CallLog) -> None:
    import importlib

    for mod, fn in GATE_OPERATORS:
        module = importlib.import_module(f"{common.PKG}.operators.{mod}")
        calls.wrap(module, fn, f"operators.call:{fn}")
    calls.wrap(importlib.import_module(f"{common.PKG}.sources.writer"),
               "overwrite_partitions", "writer.overwrite_partitions")


def run(opts, tracer: common.Tracer, t_start: float) -> dict:
    from spark_streaming_kafka2elasticsearch_spark.sources.files import JsonDirSource
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import front_door_stream

    t_start_epoch = time.time() - (time.perf_counter() - t_start)
    scratch = opts.scratch
    world = DocWorld(opts.seed, max(2, round(opts.seconds / SECONDS_PER_FILE)))
    src_dir = scratch.sub("src")
    os.makedirs(src_dir)
    paths = [os.path.join(src_dir, f"b-{b:04d}.json") for b in range(len(world.batches))]
    t_files = time.time() - len(paths)
    for b, (path, docs) in enumerate(zip(paths, world.batches)):
        _write_file(path, docs)
        # the file source takes the oldest file first: fix the order
        os.utime(path, (t_files + b, t_files + b))

    calls = CallLog()
    if tracer.enabled:
        _install(calls)
    try:
        with tracer.span("session.build"):
            spark, build_s = common.build_bench_session(
                opts.cores, scratch, "doc_front_door",
                {"spark.sql.shuffle.partitions": str(opts.cores)},
            )
        rss = common.RssSampler(spark._jvm.ProcessHandle.current().pid()).start()
        t_art = time.perf_counter()
        with tracer.span("setup.artifacts"):
            art = build_artifacts(spark, world, tracer)
        t_stream = time.perf_counter()
        q = front_door_stream(
            spark, JsonDirSource(src_dir, as_kafka_envelope=True),
            art["corpus"], art["lexicon"], art["weights"], art["doc_embeddings"],
            art["evals"], scratch.sub("sink"), scratch.sub("chk"),
            min_tokens=MIN_TOKENS, min_alpha_ratio=MIN_ALPHA, min_jaccard=MIN_JACCARD,
            min_logratio=MIN_LOGRATIO, threshold=THRESHOLD,
        )
        try:
            q.processAllAvailable()
            done = streamlog.batches(q)
            run_id = str(q.runId)
        finally:
            q.stop()
        rss.stop()
    finally:
        calls.restore()

    # --- untimed: latency join and output check ------------------------
    t_check = time.perf_counter()
    chk = scratch.sub("chk")
    batch_of = streamlog.file_batches(chk)
    committed = streamlog.commit_times(chk)
    timed = [b for b in done if b["batch"] != batch_of.get(paths[0])]
    # the backlog counts as offered when the first timed trigger starts
    t_offer = min(b["start"] for b in timed)
    setup_s = t_offer - t_start_epoch
    manifest = [{"path": p, "due": t_offer, "events": len(docs)}
                for p, docs in zip(paths[1:], world.batches[1:])]
    lat, missing = streamlog.file_latencies(manifest, batch_of, committed)
    offered = sum(e["events"] for e in manifest)
    drain_s = max(committed.values()) - t_offer

    want_docs, want_tokens = expected(spark, world, art)
    sink = scratch.sub("sink")
    got = spark.read.parquet(os.path.join(sink, "docs")).collect()
    got_docs = {r["doc_id"]: r["dsir_logratio"] for r in got}
    got_tokens = {
        (r["doc_id"], r["n_subwords"], tuple(r["subwords"]))
        for r in spark.read.parquet(os.path.join(sink, "tokens")).collect()
    }
    wrong = set(want_docs) ^ set(got_docs)
    wrong |= {d for d in want_docs if d in got_docs and abs(want_docs[d] - got_docs[d]) > 1e-12}
    wrong |= {t[0] for t in want_tokens ^ got_tokens}
    batch_no = {d: b for b, bt in enumerate(world.batches) for d, _, _ in bt}
    bad_batches = {batch_of.get(paths[batch_no[d]]) if d in batch_no else -1 for d in wrong}
    attempted = len(timed)
    failed = min(attempted, len(bad_batches) + len(missing))
    check_s = time.perf_counter() - t_check

    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (offered / drain_s, "rows/s"),
        # one micro-batch, start to commit; the median over the backlog's
        "latency_s": (statistics.median(b["end"] - b["start"] for b in timed), "s"),
    }
    kinds: dict[str, int] = {}
    for d in batch_no:
        kinds[world.kinds[d]] = kinds.get(world.kinds[d], 0) + 1
    landed = sum(1 for d in got_docs if batch_no.get(d, 0) > 0)
    info = {
        "offered": offered, "landed": landed, "kinds": kinds,
        "latency_files": len(lat),
        "missing_files": len(missing), "wrong_docs": len(wrong),
        "check_s": check_s, "artifacts_s": t_stream - t_art,
        "batches": [(b["batch"], b["ms"].get("triggerExecution"), b["ms"].get("addBatch"))
                    for b in done],
    }
    layers = rss.layer_metrics()
    if tracer.enabled:
        layers |= _layers(spark, tracer, opts, done, timed, calls.calls, run_id, build_s,
                         landed / offered)
    return {"correct": not wrong and not missing, "attempted": attempted,
            "failed": failed, "metrics": metrics, "layers": layers, "info": info}


def _layers(spark, tracer, opts, done, timed, calls, run_id, build_s, keep_ratio) -> dict:
    """Per-layer metrics over the timed batches; operator calls made
    while the stream was built count too, the warm-up batch's do not."""
    add_batch = streamlog.batch_spans(tracer, done)
    spans = {b["batch"]: (b["start"], b["end"]) for b in done}
    timed_ids = {b["batch"] for b in timed}
    per_fn: dict[str, float] = {}
    overwrite: list[float] = []
    for name, t0, t1 in calls:
        owner = next((k for k, (s, e) in spans.items() if s <= t0 and t1 <= e), None)
        tracer.add(name, t0, t1, op=None if owner is None else str(owner),
                   parent=add_batch.get(owner))
        if owner is not None and owner not in timed_ids:
            continue
        if name.startswith("operators.call:"):
            key = f"operators.call_s.{name.split(':', 1)[1]}"
            per_fn[key] = per_fn.get(key, 0.0) + (t1 - t0)
        else:
            overwrite.append(t1 - t0)

    batch_s = sum(b["ms"].get("triggerExecution", 0) for b in timed) / 1000.0
    return {
        "session.build_s": build_s,
        **streamlog.stream_metrics(spark, run_id, timed, opts.cores),
        "stateful.state_rows": timed[-1]["state_rows"],
        "stateful.commit_ms_p50": common.percentile([b["state_commit_ms"] for b in timed], 0.5),
        "stateful.memory_mb": max(b["state_mem_bytes"] for b in timed) / (1 << 20),
        "writer.overwrite_s_p50": common.percentile(overwrite, 0.5) if overwrite else 0.0,
        "writer.share": sum(overwrite) / batch_s,
        "front_door.keep_ratio": keep_ratio,
        **per_fn,
    }
