"""Tests of the benchmark's own helpers (no Spark needed).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import common, doc_front_door, orders_data, streamlog  # noqa: E402

# --------------------------------------------------------------------------
# percentiles


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert common.percentile(xs, 0.5) == 50
    assert common.percentile(xs, 0.99) == 99
    assert common.percentile(xs, 1.0) == 100
    assert common.percentile([7.0], 0.99) == 7.0
    assert common.percentile([3, 1, 2], 0.5) == 2  # order does not matter
    with pytest.raises(ValueError):
        common.percentile([], 0.5)


def test_percentile_reported_only_with_ten_samples_beyond():
    assert common.reportable(1000, 0.99)  # rank 990, 10 beyond
    assert not common.reportable(999, 0.99)  # rank 990, 9 beyond
    assert common.reportable(20, 0.5)
    assert not common.reportable(19, 0.5)  # rank 10, 9 beyond
    with pytest.raises(ValueError):
        common.reported_percentile(list(range(999)), 0.99)
    assert common.reported_percentile(list(range(1000)), 0.99) == 989


# --------------------------------------------------------------------------
# checkpoint logs joined with commit times


def _log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_event_latency_from_checkpoint_logs(tmp_path):
    chk = tmp_path / "chk"
    (chk / "sources" / "0").mkdir(parents=True)
    (chk / "commits").mkdir()
    files = [str(tmp_path / "src" / f"f-{i}.parquet") for i in range(4)]
    # batches 0 and 1 compacted, batch 2 plain; f-3 never committed
    _log(chk / "sources" / "0" / "1.compact", [
        {"path": "file://" + files[0], "timestamp": 1, "batchId": 0},
        {"path": "file://" + files[1], "timestamp": 1, "batchId": 1},
    ])
    _log(chk / "sources" / "0" / "2", [
        {"path": "file://" + files[2], "timestamp": 1, "batchId": 2},
        {"path": "file://" + files[3], "timestamp": 1, "batchId": 2},
    ])
    for batch, t in ((0, 100.0), (1, 103.5)):
        (chk / "commits" / str(batch)).write_text("v1\n{}\n")
        os.utime(chk / "commits" / str(batch), (t, t))

    batch_of = streamlog.file_batches(str(chk))
    assert batch_of == {files[0]: 0, files[1]: 1, files[2]: 2, files[3]: 2}
    committed = streamlog.commit_times(str(chk))
    assert committed == {0: 100.0, 1: 103.5}

    manifest = [
        {"path": files[0], "due": 99.0, "events": 2},
        {"path": files[1], "due": 101.0, "events": 3},
        {"path": files[2], "due": 102.0, "events": 1},  # batch 2 not committed
    ]
    lat, missing = streamlog.file_latencies(manifest, batch_of, committed)
    assert lat == [(1.0, 2), (2.5, 3)]  # one sample per file, with its events
    assert missing == [manifest[2]]


def test_progress_timestamp_parses_as_utc():
    assert streamlog.epoch("1970-01-01T00:00:01.500Z") == 1.5


# --------------------------------------------------------------------------
# generators


def _orders(seed: int, files=((0, 50), (1, 400), (2, 400))):
    log = orders_data.EventLog(seed)
    return log, [log.file(no, n) for no, n in files]


def test_order_events_are_deterministic_per_seed():
    a, fa = _orders(3)
    b, fb = _orders(3)
    c, _ = _orders(4)
    assert fa == fb and a.values == b.values and a.rows == b.rows
    assert a.values != c.values


def test_order_mix_has_every_fixture_case():
    log, files = _orders(5, files=((0, 2000), (1, 2000)))
    rows = log.rows
    assert any(r == orders_data.MALFORMED_ROW for r in rows)
    assert any(r[7] is None and r[3] is not None for r in rows)  # unmatched city
    assert {r[6] for r in rows if r[0]} == {"Bexley", "Merchant"}
    assert any(b'"order_basket": []' in v for v in log.values)
    assert len(files[1]) > 2000  # redeliveries ride along
    assert all(json.loads(v) for v in log.values if not v.endswith(b": "))


def test_expected_table_collapses_redeliveries_and_malformed():
    log, files = _orders(6, files=((0, 3000), (1, 3000)))
    seqs = [s for f in files for s in f]
    table = log.expected_table(seqs)
    distinct_ok = {log.rows[s][2] for s in seqs}
    assert set(table) == distinct_ok
    assert table[""] == orders_data.MALFORMED_ROW
    assert len(table) < len(seqs)


def test_burst_publishes_a_round_at_once(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import orders_gen

    gen = orders_gen.Generator(7)
    small = gen.burst(str(tmp_path), 1, 10)
    large = gen.burst(str(tmp_path), 3, 20)
    # only published names remain, none hidden from the file source
    assert sorted(os.listdir(tmp_path)) == [f"f-{i:06d}.parquet" for i in range(4)]
    assert [e["file_no"] for e in small + large] == [0, 1, 2, 3]
    # a round's files share one due time, taken after the last was written
    assert len({e["due"] for e in large}) == 1
    assert large[0]["due"] >= max(e["end"] for e in large)
    assert pq.read_table(large[2]["path"]).num_rows == large[2]["events"]
    # the output check rebuilds the same events from the seed
    log = orders_data.EventLog(7)
    for no, n in ((0, 10), (1, 20), (2, 20), (3, 20)):
        log.file(no, n)
    assert log.values == gen.log.values


def test_query_documents_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import datapipe_queries

    def documents(seed: int, name: str) -> list[dict]:
        root = tmp_path / f"{seed}-{name}"
        root.mkdir()
        datapipe_queries.write_documents(seed, str(root), n_docs=200)
        return pq.read_table(root / "documents.parquet").to_pylist()

    docs = documents(3, "a")
    assert docs == documents(3, "b") and docs != documents(4, "c")
    assert [d["doc_id"] for d in docs] == list(range(200))
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    texts = [d["text"].split() for d in docs]
    # some texts are one-word edits of an earlier one (near duplicates)
    assert any(
        any(len(t) == len(u) and sum(x != y for x, y in zip(t, u)) <= 1 for u in texts[:i])
        for i, t in enumerate(texts)
    )


def test_query_check_matches_rows_by_name_and_float_ties_only():
    from perfbench.datapipe_queries import compare_results

    rows = [(1, "a", 3.393128776), (2, "b", None)]
    oracle = [(None, "b", 2), (3.393128777, "a", 1)]  # other order, columns
    assert compare_results(["id", "s", "x"], rows, ["x", "s", "id"], oracle) == (True, 1)
    assert compare_results(["id", "s", "x"], rows, ["x", "s", "id"],
                           [(None, "b", 2), (3.393128779, "a", 1)])[0] is False
    assert compare_results(["id", "s", "x"], rows, ["x", "s", "id"], oracle[:1])[0] is False
    assert compare_results(["id", "s", "x"], rows, ["x", "s", "id"],
                           [(None, "b", 2), (3.393128776, "c", 1)])[0] is False


def test_doc_world_is_deterministic_and_mixes_every_gate():
    a = doc_front_door.DocWorld(7, 1)
    b = doc_front_door.DocWorld(7, 1)
    assert a.batches == b.batches and a.embeddings == b.embeddings
    assert doc_front_door.DocWorld(8, 1).batches != a.batches
    kinds = {a.kinds[d] for bt in a.batches for d, _, _ in bt}
    assert kinds == {"survive"} | {k for k, _ in doc_front_door.SHARES}
    first = {d for d, _, _ in a.batches[0]}
    assert all(a.kinds[d] != "resend" for d in first)


# --------------------------------------------------------------------------
# /proc RSS sampler


def test_rss_sampler_counts_a_child_process():
    code = "import time; x = bytearray(64 << 20); x[::4096] = b'1' * len(x[::4096]); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 20
        while common.rss_bytes(child.pid) < (64 << 20) and time.time() < deadline:
            time.sleep(0.1)
        assert child.pid in common.tree_pids(os.getpid(), common.proc_children())
        sampler = common.RssSampler(child.pid, interval=0.05).start()
        time.sleep(0.2)
        peak_mib = sampler.stop()
        own = common.rss_bytes(os.getpid()) / (1 << 20)
        assert peak_mib >= 64 + own * 0.5
    finally:
        child.kill()
        child.wait(timeout=10)
    assert common.rss_bytes(child.pid) == 0


def test_host_load_counts_own_children_as_own():
    load = common.HostLoad()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    rep = load.report()
    assert set(rep) == {"wall_s", "other_cores", "steal_share"}
    assert rep["wall_s"] > 0 and 0.0 <= rep["steal_share"] <= 1.0
    # the child's CPU time is this process tree's, not another tenant's
    assert rep["other_cores"] < common.nproc()


# --------------------------------------------------------------------------
# tracer


def test_tracer_self_time_subtracts_children():
    tr = common.Tracer(enabled=True)
    parent = tr.add("stream.batch", 0.0, 10.0)
    tr.add("sinks.write_batch", 2.0, 9.0, parent=parent)
    tr.add("stream.plan", 0.0, 1.0, parent=parent)
    self_t = tr.self_times()
    assert self_t == {"stream.batch": 2.0, "sinks.write_batch": 7.0, "stream.plan": 1.0}


def test_disabled_tracer_records_nothing():
    tr = common.Tracer()
    with tr.span("x"):
        pass
    assert tr.spans == []


# --------------------------------------------------------------------------
# comparing records


def test_compare_refuses_other_core_counts(tmp_path, capsys):
    import argparse

    from perfbench import spread

    def record(path, nproc, master, median):
        summary = {"rows_per_s": {"unit": "rows/s", "median": median}}
        path.write_text(json.dumps({"host": {"nproc": nproc, "master": master},
                                    "summary": summary}))
        return str(path)

    a = record(tmp_path / "a.json", 4, "local[4]", 100.0)
    b = record(tmp_path / "b.json", 4, "local[4]", 110.0)
    c = record(tmp_path / "c.json", 32, "local[32]", 300.0)
    assert spread.compare(argparse.Namespace(parent=a, change=b)) == 0
    assert "+10.0%" in capsys.readouterr().out
    assert spread.compare(argparse.Namespace(parent=a, change=c)) == 2
    assert "refusing" in capsys.readouterr().err
