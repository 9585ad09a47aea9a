"""Seeded change-log generator for the benchmark's workloads.

The benchmark owns its inputs: the engine only ever sees the parquet
files written here, so a change to the engine's own test fixtures cannot
shift what the benchmark measures. The log has the properties of the
repo's sf-scaled bench log: ``(repo, path)`` keys over Zipf-sized repos,
an insert of every key followed by update/delete/reinsert churn,
200-4,000-character content, a ``lang_meta`` column that appears at 60%
of the log (additive schema evolution), ~2% duplicate deliveries and
bounded disorder. About 0.1% of the events carry an op the engine does
not know, so its validate step has rows to quarantine. ``zipf_s``
switches churn from uniform over all keys to Zipf(s) over a pool of
keys, so a few keys each own more than 1% of a batch and hot-key salting
engages.

Generated inputs are cached per (parameters, seed, generator source).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EXTS = ("py", "java", "sql", "md", "yml", "ts")
LANGS = {"py": "python", "java": "java", "sql": "sql", "md": "markdown",
         "yml": "yaml", "ts": "typescript"}
VALID_OPS = ("insert", "update", "delete")
DUP_FRAC = 0.02  # at-least-once redeliveries
SHUFFLE_WINDOW = 500  # delivery order is LSN order shuffled within windows
EVOLUTION_FRAC = 0.6  # lang_meta appears after this share of the log
INVALID_FRAC = 0.001  # events with an unknown op, which the engine quarantines
_WORDS = (
    "def class return import for while if else try except yield lambda "
    "select from where group join order limit insert update delete merge "
    "fn let const var async await struct impl trait match enum pub mod"
).split()


def _content(h: np.ndarray, repo: np.ndarray, path: np.ndarray,
             version: np.ndarray) -> list[str]:
    """Pseudo-source text, a function of (repo, path, version) so every
    update changes its sha256; 200-4,000 characters."""
    out = []
    nw = len(_WORDS)
    for hv, r, p, v in zip(h.tolist(), repo, path, version.tolist()):
        start = hv % nw
        body = " ".join(_WORDS[(start + k) % nw] for k in range(24)) + "\n"
        length = 200 + hv % 3801
        text = f"// {r}/{p} v{v}\n" + body * (length // len(body) + 1)
        out.append(text[:length])
    return out


def generate(
    seed: int,
    n_repos: int,
    n_keys: int,
    n_events: int,
    zipf_s: float | None = None,
    zipf_pool: int | None = None,
) -> pd.DataFrame:
    """One change log as a pandas frame in delivery order (duplicates and
    bounded disorder included). ``lang_meta`` is null before the
    evolution point; ``evolution_lsn`` is stored in ``frame.attrs``."""
    rng = np.random.default_rng(seed)
    repo_w = 1.0 / np.power(np.arange(1, n_repos + 1), 1.2)
    key_repo = rng.choice(n_repos, size=n_keys, p=repo_w / repo_w.sum())
    key_dir = rng.integers(0, 40, size=n_keys)
    key_ext = rng.integers(0, len(EXTS), size=n_keys)
    repos = np.array([f"repo_{i:05d}" for i in key_repo], dtype=object)
    paths = np.array(
        [f"src/m{d}/f{j}.{EXTS[e]}" for j, (d, e) in enumerate(zip(key_dir, key_ext))],
        dtype=object,
    )

    n_churn = max(n_events - n_keys, 0)
    if zipf_s is None:
        churn = rng.integers(0, n_keys, size=n_churn)
    else:
        pool = rng.permutation(n_keys)[: zipf_pool or n_keys]
        w = np.power(np.arange(1, len(pool) + 1, dtype=float), -zipf_s)
        churn = pool[rng.choice(len(pool), size=n_churn, p=w / w.sum())]
    ev_key = np.concatenate([rng.permutation(n_keys), churn])
    roll = rng.random(n_churn)

    # ~70% update / 15% delete / reinsert of dead keys, live-set aware
    ops = np.empty(len(ev_key), dtype=object)
    ops[:n_keys] = "insert"
    alive = np.ones(n_keys, dtype=bool)
    for i, k in enumerate(churn.tolist()):
        if not alive[k]:
            ops[n_keys + i] = "insert"
            alive[k] = True
        elif roll[i] < 0.15:
            ops[n_keys + i] = "delete"
            alive[k] = False
        else:
            ops[n_keys + i] = "update"

    lsn = np.arange(1, len(ev_key) + 1, dtype=np.int64) * 10
    version = pd.Series(ev_key).groupby(ev_key).cumcount().to_numpy() + 1
    ev_repo, ev_path = repos[ev_key], paths[ev_key]
    h = (
        pd.util.hash_array(ev_repo.astype(object), hash_key="0123456789abcdef")
        ^ pd.util.hash_array(ev_path.astype(object), hash_key="fedcba9876543210")
        ^ pd.util.hash_array(version.astype(np.int64))
    ).astype(np.uint64)
    commit = [f"{v:016x}{(v * 31) & 0xFFFFFFFFFFFFFFFF:016x}{v & 0xFFFFFFFF:08x}"
              for v in h.tolist()]
    content = np.array(_content(h, ev_repo, ev_path, version), dtype=object)
    content[ops == "delete"] = None
    df = pd.DataFrame({
        "lsn": lsn,
        "ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(lsn, unit="ms"),
        "op": ops,
        "repo": ev_repo,
        "path": ev_path,
        "commit": commit,
        "lang": [LANGS[p.rsplit(".", 1)[1]] for p in ev_path],
        "content": content,
    })
    evolution_lsn = int(lsn[int(len(lsn) * EVOLUTION_FRAC)])
    meta = np.where(
        df["op"].to_numpy() == "delete",
        None,
        '{"loc": ' + (df["content"].str.len().fillna(0).astype(int) // 40).astype(str) + "}",
    )
    df["lang_meta"] = np.where(df["lsn"].to_numpy() > evolution_lsn, meta, None)

    # invalid events on LSNs of their own, between two valid ones
    bad = df.iloc[rng.choice(len(df), size=int(len(df) * INVALID_FRAC), replace=False)].copy()
    bad["lsn"] += 5
    bad["ts"] += pd.Timedelta(5, unit="ms")
    bad["op"] = "truncate"
    df = pd.concat([df, bad])
    # at-least-once redelivery, then bounded disorder within windows
    dups = df.iloc[rng.choice(len(df), size=int(len(df) * DUP_FRAC), replace=False)]
    df = pd.concat([df, dups]).sort_values("lsn", kind="stable").reset_index(drop=True)
    idx = np.arange(len(df))
    for lo in range(0, len(df), SHUFFLE_WINDOW):
        idx[lo:lo + SHUFFLE_WINDOW] = rng.permutation(idx[lo:lo + SHUFFLE_WINDOW])
    df = df.iloc[idx].reset_index(drop=True)
    df.attrs["evolution_lsn"] = evolution_lsn
    return df


_SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()), ("lang_meta", pa.string()),
])


def _write(df: pd.DataFrame, path: str, with_meta: bool) -> None:
    schema = _SCHEMA if with_meta else _SCHEMA.remove(_SCHEMA.get_field_index("lang_meta"))
    table = pa.Table.from_pandas(df[schema.names], schema=schema, preserve_index=False)
    # 32k-row groups, so the scan splits and LSN stats prune like WAL files
    pq.write_table(table, path, row_group_size=32768)


def write_segments(df: pd.DataFrame, evolution_lsn: int, out_dir: str,
                   prefix: str) -> list[str]:
    """Write ``df`` as the pre-evolution segment (no ``lang_meta`` column)
    and the post-evolution segment; returns the names of those written."""
    names = []
    for name, part, with_meta in (
        ("v1", df[df["lsn"] <= evolution_lsn], False),
        ("v2", df[df["lsn"] > evolution_lsn], True),
    ):
        if len(part):
            names.append(f"{prefix}_{name}.parquet")
            _write(part, os.path.join(out_dir, names[-1]), with_meta)
    return names


def _digest(spec: dict) -> str:
    with open(__file__, "rb") as f:
        src = f.read()
    blob = json.dumps(spec, sort_keys=True).encode() + src
    return hashlib.sha256(blob).hexdigest()[:16]


def cached(cache_root: str, spec: dict, build) -> tuple[str, dict]:
    """Directory holding ``build(dir) -> meta`` for ``spec``, built once.

    The key covers the spec (which includes the seed) and this module's
    source, so a generator change can never serve stale inputs. The build
    happens in a private directory and is renamed into place whole."""
    out = os.path.join(cache_root, _digest(spec))
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta
