"""Seeded load generator for the CDP pipeline benchmark.

Pure numpy/pyarrow, no Spark: the engine only ever sees the files written
here. Everything derives from one seed, so the same seed writes the same
bytes.

Event properties the engine's behaviour depends on:

- user ids are Zipf-skewed (s=1.05) over a 1M-id space, so a handful of
  celebrity users carry a large share of the traffic;
- about 2% of rows are redeliveries: half copy an earlier row of the same
  batch, half copy a row of the previous batch, always with a later
  ``received_at`` (the original is the first-seen copy);
- ``merge`` and ``alias`` events build an identity graph (the merge payloads
  link ``u<id>@example.com`` emails to a bounded set of anonymous ids);
- payload shapes are the engine's own fixture shapes
  (``sources/rudder_events._payload``).
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_USERS = 1_000_000
ZIPF_S = 1.05
REDELIVERY_SHARE = 0.02
N_SOURCES = 32
N_DESTS = 48
T0_US = int(np.datetime64("2024-02-01T00:00:00", "us").astype(np.int64))

TYPES = np.array(["track", "identify", "page", "alias", "merge", "extract"])
GATEWAY_MIX = np.array([0.50, 0.18, 0.12, 0.05, 0.10, 0.05])
# payload workloads: no extract events and one track event name, so an
# upload or micro-batch writes 10 warehouse tables instead of 14 (each
# table costs a fixed set of Spark jobs per commit)
WAREHOUSE_MIX = np.array([0.52, 0.18, 0.12, 0.06, 0.12, 0.0])
TRACK_NAMES = np.array(["Order Completed", "Product Viewed", "Cart Cleared"])
EXTRACT_NAMES = np.array(["Product Export", "user_snapshot"])
N_RECORDS = 50_000
CONSENT_SETS = [[], ["ads"], ["analytics"], ["ads", "analytics"]]
CONSENT_WEIGHTS = np.array([0.90, 0.05, 0.03, 0.02])

# columns of one generated row, all integer-coded until written out
_COLS = ("id", "user", "anon_empty", "type", "name", "record", "source", "consent", "t_us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _cdf(weights: np.ndarray) -> np.ndarray:
    c = np.cumsum(weights / weights.sum())
    c[-1] = 1.0
    return c


class EventSource:
    """Successive batches of gateway events for one seed.

    Message ids are a running counter, so ids never collide across batches
    except where a redelivery copies one on purpose.
    """

    def __init__(self, seed: int, mix: np.ndarray = GATEWAY_MIX):
        self.rng = _rng(seed, 0)
        self.type_cdf = _cdf(mix)
        self.n_track_names = len(TRACK_NAMES) if mix[5] else 1
        self.user_cdf = _cdf(1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S)
        self.user_of_rank = self.rng.permutation(N_USERS) + 1
        self.source_cdf = _cdf(1.0 / np.arange(1, N_SOURCES + 1))
        self.next_id = 0
        self.t_us = T0_US
        self.prev: dict | None = None

    def batch(self, n: int, span_s: float) -> dict:
        """``n`` base events spread over ``span_s`` seconds, plus the
        redelivered copies; rows sorted by ``t_us`` (received_at)."""
        rng = self.rng
        span_us = int(span_s * 1e6)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        types = np.searchsorted(self.type_cdf, rng.random(n))
        record = np.where(types == 5, rng.integers(0, N_RECORDS, n), -1)
        base = {
            "id": ids,
            "user": self.user_of_rank[np.searchsorted(self.user_cdf, rng.random(n))],
            "anon_empty": rng.random(n) < 0.05,
            "type": types,
            # track: one of three names; extract: the record id picks the
            # name, so a record always lands in the same table
            "name": np.where(types == 0, rng.integers(0, self.n_track_names, n),
                             np.where(types == 5, record % 2, -1)),
            "record": record,
            "source": np.searchsorted(self.source_cdf, rng.random(n)),
            "consent": np.searchsorted(_cdf(CONSENT_WEIGHTS), rng.random(n)),
            "t_us": self.t_us + np.sort(rng.integers(0, span_us, n)),
        }
        n_dup = int(round(n * REDELIVERY_SHARE))
        n_cross = n_dup // 2 if self.prev is not None else 0
        within = rng.integers(0, n, n_dup - n_cross)
        parts = [base, {c: base[c][within] for c in _COLS}]
        parts[1]["t_us"] = parts[1]["t_us"] + rng.integers(1_000, 60_000_000, len(within))
        if n_cross:
            across = rng.integers(0, len(self.prev["id"]), n_cross)
            cross = {c: self.prev[c][across] for c in _COLS}
            cross["t_us"] = self.t_us + rng.integers(0, span_us, n_cross)
            parts.append(cross)
        out = {c: np.concatenate([p[c] for p in parts]) for c in _COLS}
        order = np.argsort(out["t_us"], kind="stable")
        out = {c: v[order] for c, v in out.items()}
        self.prev = base
        self.t_us += span_us
        return out


def _prefixed(prefix: str, values: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(values), pa.string()), width=width, padding="0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _consent_lists(codes: np.ndarray) -> pa.Array:
    sizes = np.array([len(c) for c in CONSENT_SETS])[codes]
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    flat = np.concatenate([np.array(c, dtype=object) for c in CONSENT_SETS])
    starts = np.concatenate([[0], np.cumsum([len(c) for c in CONSENT_SETS])])[:-1]
    # value positions: for row r, the k-th denied id is flat[starts[code] + k]
    pos = np.repeat(starts[codes], sizes) + (np.arange(offsets[-1]) - np.repeat(offsets[:-1], sizes))
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat[pos].astype(str)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _coded(codes: np.ndarray, vocab, null_mask: np.ndarray | None = None) -> pa.Array:
    idx = pa.array(codes.astype(np.int32), mask=null_mask)
    return pa.DictionaryArray.from_arrays(idx, pa.array(list(vocab))).cast(pa.string())


def envelope_table(b: dict) -> pa.Table:
    """Gateway envelope columns (no payload) plus the routing columns the
    processor reads: ``source_id`` and ``denied_consent_ids``."""
    names = np.where(b["type"] == 0, b["name"], len(TRACK_NAMES) + b["name"] % 2)
    anon = _prefixed("anon-", b["user"], 7)
    return pa.table({
        "message_id": _prefixed("msg-", b["id"], 9),
        "user_id": pa.array(b["user"], pa.int64()),
        "anonymous_id": pc.if_else(pa.array(b["anon_empty"]), "", anon),
        "event_type": _coded(b["type"], TYPES),
        "event_name": _coded(names, [*TRACK_NAMES, *EXTRACT_NAMES], b["name"] < 0),
        "record_id": pc.if_else(pa.array(b["record"] >= 0), _prefixed("rec-", b["record"], 6),
                                pa.scalar(None, pa.string())),
        "source_id": _coded(b["source"], [f"src-{k:02d}" for k in range(N_SOURCES)]),
        "received_at": _ts(b["t_us"]),
        "sent_at": _ts(b["t_us"] - 2_000_000),
        "original_timestamp": _ts(b["t_us"] - 5_000_000),
        "denied_consent_ids": _consent_lists(b["consent"]),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    # dictionary pages only where values repeat: a unique message_id
    # column would fill a dictionary page just to discard it
    low_card = ["anonymous_id", "event_type", "event_name", "record_id", "source_id"]
    pq.write_table(table, path, row_group_size=256 * 1024, use_dictionary=low_card)


def json_lines(b: dict) -> list[str]:
    """Staging-file rows: envelope fields plus the JSON ``payload``, one
    JSON document per line (the reference's JSON-lines staging format)."""
    from rudder_server_spark.sources.rudder_events import _payload

    env = envelope_table(b).drop(["source_id", "denied_consent_ids"]).to_pylist()
    lines = []
    for row, i, uid, t in zip(env, b["id"], b["user"], b["type"]):
        row["payload"] = _payload(int(i), int(uid), TYPES[t], row["event_name"], row["anonymous_id"])
        for c in ("received_at", "sent_at", "original_timestamp"):
            row[c] = row[c].isoformat() + "Z"
        lines.append(json.dumps(row, separators=(",", ":")))
    return lines


def write_json_lines(lines: list[str], path: str) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def workspace(seed: int) -> dict:
    """Workspace config document (backend-config shape) plus the router
    and suppression settings that go with it.

    The wiring is the same for every seed, so the work a batch costs does
    not swing with the seed; the seed picks which user ids are suppressed
    (always the same Zipf ranks, hence the same share of traffic).

    Returns {"config": doc, "suppressed": [user ids], "caps": {dest: cap},
    "default_cap": int, "fail_pct": {dest: pct}}.
    """
    rng = _rng(0, 1)
    dest_ids = [f"dst-{j:02d}" for j in range(N_DESTS)]
    disabled_dests = set(rng.choice(N_DESTS, 3, replace=False).tolist())
    type_lists = [None, ["track"], ["track", "identify"], ["track", "page", "identify", "alias"]]
    dests = {}
    for j, did in enumerate(dest_ids):
        kind = rng.choice(len(type_lists), p=[0.5, 0.15, 0.2, 0.15])
        ddef_cfg = {} if type_lists[kind] is None else {"supportedMessageTypes": type_lists[kind]}
        if j == N_DESTS - 1:
            ddef_cfg = {"supportedMessageTypes": []}  # filters every job
        consent = rng.choice(3, p=[0.7, 0.2, 0.1])
        cfg = {} if consent == 0 else {"consentManagement": [{
            "provider": "oneTrust", "resolutionStrategy": "or",
            "consents": [{"consent": ["ads", "analytics"][consent - 1]}],
        }]}
        dests[did] = {
            "id": did, "name": f"dest {j}", "enabled": j not in disabled_dests,
            "destinationDefinition": {"name": f"DEF{j % 6}", "config": ddef_cfg},
            "config": cfg,
        }
    disabled_sources = set(rng.choice(np.arange(4, N_SOURCES), 2, replace=False).tolist())
    sources = []
    for k in range(N_SOURCES):
        fan = rng.choice(N_DESTS, int(rng.integers(1, 6)), replace=False)
        sources.append({
            "id": f"src-{k:02d}", "name": f"source {k}", "writeKey": f"wk-{k}",
            "enabled": k not in disabled_sources,
            "sourceDefinition": {"category": "event-stream", "type": "js"},
            "destinations": [dests[dest_ids[j]] for j in sorted(fan)],
        })
    heavy = EventSource(seed).user_of_rank[rng.choice(2000, 400, replace=False)]
    caps = {str(d): int(rng.choice([2_000, 8_000])) for d in rng.choice(dest_ids, 8, replace=False)}
    return {
        "config": {"workspaceId": f"ws-{seed}", "sources": sources},
        "suppressed": sorted(int(u) for u in heavy),
        "default_cap": 30_000,
        "caps": caps,
        "fail_pct": {did: j % 7 for j, did in enumerate(dest_ids)},
    }
