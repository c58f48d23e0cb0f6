"""write_amp / space_amp byte accounting on a tiny ingest run."""

import os

import pytest

import measure
import run
import workloads


def _sizes(*roots):
    total = 0
    for r in roots:
        for dirpath, _, files in os.walk(r):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@pytest.fixture(scope="module")
def ingest(session_factory, tmp_path_factory):
    base = tmp_path_factory.mktemp("ingest")
    ctx = run.Ctx(seed=3, run_dir=str(base / "run"))
    ctx.cache_root = str(base / "cache")
    wl = workloads.Ingest(ctx)
    wl.replica = {"mult": 0.01, "doc_mult": 0.02, "emb_mult": 0.1}
    wl.prepare()
    spark = session_factory()
    runner = run.Runner(wl, spark, measure.Tracer(run_id="test", enabled=True))
    runner.setup_pass()
    runner.window(0.0, trace=False)  # exactly one tick after the set-up ticks
    runner.window(0.0, trace=True)  # then one untraced and one traced tick
    return wl, runner


def _ticks(wl):
    return wl.setup_passes + 3


def test_ticks_pass_their_checks(ingest):
    wl, runner = ingest
    assert runner.failed == 0, runner.problems
    n = _ticks(wl)
    assert wl.tick == n and len(wl.bytes_per_tick) == n
    # six steps and one check a tick, and the traced tick's codec prefix
    assert runner.attempted == n * (6 + 1) + 1
    assert wl.traced_ticks == [wl.tick - 1]


def test_write_amp_is_bytes_written_over_batch_bytes(ingest):
    wl, _ = ingest
    last = wl.bytes_per_tick[-1]
    batch = os.path.getsize(os.path.join(wl.cache.dir, f"tick-{wl.tick - 1}.parquet"))
    assert last["batch"] == batch
    # the merge rewrites the whole live table (copy-on-write) plus the log
    t = wl.target
    table_now = _sizes(t)
    assert table_now <= last["tables"] <= table_now + 3 * os.path.getsize(
        t + "__snaplog.json")
    # the mirror is rewritten by the sync, the pyramid by its upkeep
    assert last["incremental"] >= _sizes(wl.mirror) + _sizes(wl.pyramid_path())
    assert last["checkpoint"] > 0  # ledger rows appended
    want = sum(last[g] for g in ("tables", "incremental", "checkpoint")) / batch
    amps = sorted(sum(v for k, v in b.items() if k != "batch") / b["batch"]
                  for b in wl.bytes_per_tick)
    assert want in amps
    assert wl.run_layers()["write_amp"] == pytest.approx(measure.median(amps))


def test_space_amp_counts_snapshots_mirror_and_pyramid(ingest):
    wl, _ = ingest
    t = wl.target
    live = _sizes(t)
    on_disk = live + _sizes(t + "__snapshots", wl.mirror, wl.pyramid_path())
    assert wl.run_layers()["space_amp"] == pytest.approx(on_disk / live)
    # one commit a tick, at most KEEP_SNAPSHOTS retained
    assert len(os.listdir(t + "__snapshots")) <= workloads.KEEP_SNAPSHOTS
