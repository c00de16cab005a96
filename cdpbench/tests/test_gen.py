"""The generator is a pure function of the seed."""

import hashlib
import os

from cdpbench import gen, loadgen


def _gateway_bytes(seed, tmp_path, tag):
    src = gen.EventSource(seed)
    src.batch(2_000, 60)  # a previous batch, so the next one has cross-batch redeliveries
    path = os.path.join(tmp_path, f"{tag}.parquet")
    gen.write_parquet(gen.envelope_table(src.batch(5_000, 60)), path)
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _staging_lines(seed):
    batches = loadgen.stream_batches(seed, 300, 0.1)
    return [gen.json_lines(next(batches)) for _ in range(3)]


def test_same_seed_same_bytes(tmp_path):
    assert _gateway_bytes(3, tmp_path, "a") == _gateway_bytes(3, tmp_path, "b")
    assert _staging_lines(3) == _staging_lines(3)
    assert gen.workspace(3) == gen.workspace(3)


def test_other_seed_other_bytes(tmp_path):
    assert _gateway_bytes(3, tmp_path, "a") != _gateway_bytes(4, tmp_path, "b")
    assert _staging_lines(3) != _staging_lines(4)
    assert gen.workspace(3)["suppressed"] != gen.workspace(4)["suppressed"]


def test_batch_properties():
    src = gen.EventSource(11)
    src.batch(20_000, 600)
    b = src.batch(20_000, 600)
    n = len(b["id"])
    assert n == 20_000 + round(20_000 * gen.REDELIVERY_SHARE)
    ids = set(b["id"].tolist())
    assert 0 < n - len(ids) <= round(20_000 * gen.REDELIVERY_SHARE)  # copies repeat ids
    assert min(ids) < 20_000 <= max(ids)  # some copies come from the previous batch
    assert (b["t_us"][1:] >= b["t_us"][:-1]).all()  # sorted by received_at
    # Zipf skew: the busiest user carries far more than a uniform share
    users, counts = __import__("numpy").unique(b["user"], return_counts=True)
    assert counts.max() > 100 * n / gen.N_USERS


def test_file_name_round_trips_due_time():
    assert loadgen.due_of(loadgen.file_name(7, 1_700_000_000_123_456_789)) == 1_700_000_000.123456789
