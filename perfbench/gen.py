"""Seeded change-log generator for the benchmark (FIXTURES.md F2 shape).

Every draw is a splitmix64 hash of ``(seed, seq, salt)``, so the same seed
gives a byte-identical log and a different seed a different one. The shape
follows F2: the first event of a key is an insert, later events are
updates (85%), deletes (5%) or re-inserts (10%); ``hot_frac`` of all
events go to the keys of one hot repo; live bodies are ~1 KB of
``line NN: <32 hex>`` text. Generation is pure numpy/pyarrow, with no
Spark and no engine code, so it counts in no metric.

The log is written in the engine's replay layout,
``<dir>/epoch=<e>/part=<p>/events.parquet``, each file in seq order.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
LANG_EXTS = [("py", "python"), ("scala", "scala"), ("java", "java"), ("sql", "sql"),
             ("md", "markdown"), ("json", "json"), ("yaml", "yaml"), ("c", "c")]
LINE_BYTES = 42  # b"line NN: " + 32 hex + b"\n"
_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


@dataclass(frozen=True)
class LogShape:
    n_keys: int = 30_000  # table >> epoch: per-epoch work tracks the batch
    n_repos: int = 100
    hot_frac: float = 0.20
    n_parts: int = 8
    min_lines: int = 12   # bodies hold min_lines..min_lines+span-1 lines:
    line_span: int = 25   # mean 24 lines x 42 B = ~1 KB


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, vectorised over uint64."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def seeded_hash(seed: int, salt: str, x: np.ndarray) -> np.ndarray:
    """Hash of (seed, salt, x): the seed enters every draw."""
    tag = int.from_bytes(hashlib.blake2b(f"{seed}|{salt}".encode(), digest_size=8).digest(), "little")
    with np.errstate(over="ignore"):
        return _mix(x.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(tag))


def _hex_block(words: np.ndarray) -> np.ndarray:
    """(n, k) uint64 -> (n, 16k) uint8 lowercase hex characters."""
    b = words.astype(">u8").view(np.uint8).reshape(words.shape[0], -1)
    out = np.empty((b.shape[0], b.shape[1] * 2), dtype=np.uint8)
    out[:, 0::2] = _HEX[b >> 4]
    out[:, 1::2] = _HEX[b & 15]
    return out


def _fixed_strings(chars: np.ndarray) -> pa.Array:
    """(n, w) uint8 -> utf8 array of n strings of width w."""
    n, w = chars.shape
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(chars)))


def _bodies(seed: int, seq: np.ndarray, shape: LogShape) -> pa.Array:
    """~1 KB multi-line body per event, new per seq."""
    n_lines = shape.min_lines + (seeded_hash(seed, "lines", seq) % np.uint64(shape.line_span)).astype(np.int64)
    total = int(n_lines.sum())
    owner = np.repeat(np.arange(len(seq)), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    k = np.arange(total, dtype=np.int64) - starts
    salt = seq[owner].astype(np.uint64) * np.uint64(64) + k.astype(np.uint64)
    words = np.stack([seeded_hash(seed, "body0", salt), seeded_hash(seed, "body1", salt)], axis=1)
    lines = np.empty((total, LINE_BYTES), dtype=np.uint8)
    lines[:, :5] = np.frombuffer(b"line ", dtype=np.uint8)
    lines[:, 5] = 48 + (k // 10) % 10
    lines[:, 6] = 48 + k % 10
    lines[:, 7:9] = np.frombuffer(b": ", dtype=np.uint8)
    lines[:, 9:41] = _hex_block(words)
    lines[:, 41] = 10
    offsets = np.zeros(len(seq) + 1, dtype=np.int32)
    np.cumsum(n_lines * LINE_BYTES, out=offsets[1:])
    return pa.StringArray.from_buffers(len(seq), pa.py_buffer(offsets), pa.py_buffer(lines.reshape(-1)))


def repo_name(r: int) -> str:
    """Name of repo index ``r``; index 0 is the hot repo."""
    return f"org{(r * 2654435761) % 7}/repo{r}"


def _key_table(shape: LogShape) -> dict[str, np.ndarray]:
    """repo/path/lang per key index (FIXTURES.md F1 naming rules)."""
    keys = np.arange(shape.n_keys)
    repo_idx = keys % shape.n_repos
    ext = (_mix(keys.astype(np.uint64) + np.uint64(17)) % np.uint64(len(LANG_EXTS))).astype(np.int64)
    d1 = (_mix(keys.astype(np.uint64) + np.uint64(29)) % np.uint64(7)).astype(np.int64)
    d2 = (_mix(keys.astype(np.uint64) + np.uint64(31)) % np.uint64(11)).astype(np.int64)
    file_j = keys // shape.n_repos
    repo = np.array([repo_name(r) for r in repo_idx], dtype=object)
    path = np.array([f"src/d{a}/d{b}/file_{j}.{LANG_EXTS[e][0]}"
                     for a, b, j, e in zip(d1, d2, file_j, ext)], dtype=object)
    lang = np.array([LANG_EXTS[e][1] for e in ext], dtype=object)
    return {"repo": repo, "path": path, "lang": lang, "repo_idx": repo_idx}


def gen_events(seed: int, n_events: int, shape: LogShape) -> pa.Table:
    """The whole log as one Arrow table, ascending seq, plus a ``part``
    column (``repo_idx mod n_parts``: a key's events stay in one stream
    partition, the per-partition offset contract)."""
    seq = np.arange(n_events, dtype=np.int64)
    useq = seq.astype(np.uint64)
    keys_per_repo = max(1, shape.n_keys // shape.n_repos)
    uniform = (seeded_hash(seed, "key", useq) % np.uint64(shape.n_keys)).astype(np.int64)
    hot_pick = seeded_hash(seed, "hotk", useq) % np.uint64(keys_per_repo)
    hot = (hot_pick.astype(np.int64) * shape.n_repos)  # repo 0's keys
    is_hot = (seeded_hash(seed, "hot", useq) % np.uint64(1_000_000)) < np.uint64(int(shape.hot_frac * 1_000_000))
    key = np.where(is_hot, hot, uniform)

    order = np.argsort(key, kind="stable")
    sk = key[order]
    first = np.r_[True, sk[1:] != sk[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_events), 0))
    version = np.empty(n_events, dtype=np.int64)
    version[order] = np.arange(n_events) - grp_start

    draw = seeded_hash(seed, "op", useq) % np.uint64(100)
    op = np.where(version == 0, "I", np.where(draw < 85, "U", np.where(draw < 90, "D", "I")))
    live = op != "D"

    kt = _key_table(shape)
    commit_words = np.stack([seeded_hash(seed, f"commit{i}", useq) for i in range(3)], axis=1)
    commit = pc.utf8_slice_codeunits(_fixed_strings(_hex_block(commit_words)), 0, 40)
    mask = pa.array(~live)
    null_str = pa.scalar(None, pa.string())
    return pa.table({
        "seq": pa.array(seq),
        "ts": pa.array(EPOCH_TS_US + seq * 10_000, pa.timestamp("us", tz="UTC")),
        "op": pa.array(op),
        "repo": pa.array(kt["repo"][key], pa.string()),
        "path": pa.array(kt["path"][key], pa.string()),
        "commit": pc.if_else(mask, null_str, commit),
        "lang": pc.if_else(mask, null_str, pa.array(kt["lang"][key], pa.string())),
        "content": pc.if_else(mask, null_str, _bodies(seed, seq, shape)),
        "part": pa.array(kt["repo_idx"][key] % shape.n_parts),
    })


def write_log(events: pa.Table, out_dir: str, epoch_bounds: list[tuple[int, int]], first_epoch: int = 0) -> list[str]:
    """Write rows [lo, hi) of each bound as ``epoch=<first_epoch+i>``;
    returns the epoch directories in order."""
    dirs = []
    part = events.column("part").to_numpy()
    body = events.drop_columns(["part"])
    for i, (lo, hi) in enumerate(epoch_bounds):
        edir = os.path.join(out_dir, f"epoch={first_epoch + i}")
        shutil.rmtree(edir, ignore_errors=True)
        for p in np.unique(part[lo:hi]):
            rows = lo + np.flatnonzero(part[lo:hi] == p)
            pdir = os.path.join(edir, f"part={int(p)}")
            os.makedirs(pdir, exist_ok=True)
            pq.write_table(body.take(pa.array(rows)), os.path.join(pdir, "events.parquet"))
        dirs.append(edir)
    return dirs


def oracle_expect(events: pa.Table) -> dict:
    """Oracle digest and live row count of the folded log:
    ``oracle.fold_events`` then ``oracle.table_digest`` (pandas and
    hashlib only, no engine code)."""
    from foundry_es_spark import oracle

    folded = oracle.fold_events(events.drop_columns(["part", "ts"]).to_pandas())
    return {"digest": oracle.table_digest(folded), "live_rows": len(folded)}
