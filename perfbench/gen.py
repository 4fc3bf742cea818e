"""Seeded input generators and the truth each workload is checked against.

Everything here is numpy/pandas/pyarrow in this Python process, untimed. The
program under test only ever sees the generated parquet files and
DataFrames; the planted facts (duplicate keys, NULL content, dangling
commits, drifted buckets, near-duplicate pairs) stay on this side and
become the expected outputs.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: languages the engine knows (sparkval.config.LANG_VOCAB minus "other")
LANGS = ["c", "go", "js", "md", "python", "rust", "toml", "txt"]
_ALPHA = {
    "python": b"def return self import ():=_#\n    abcdefghijklmnop",
    "rust": b"fn let mut impl pub struct ::{};&\n    qrstuvwxyz<>'",
    "c": b"int void static struct *&->{};\n\t#include abcdef",
    "go": b"func package var range := {}\n\tgo chan map ghijkl",
    "js": b"const let => function var {};()\n  async await mnop",
    "md": b"# ## - * [link](url) `code` text words sentences.\n\n",
    "toml": b"[section]\nkey = \"value\"\n# comment\ntrue false 0123",
    "txt": b"the quick brown fox jumps over lazy dogs and cats. ",
}
#: bytes a drifted repo's files start using: mass appears in bins the
#: baseline never saw, which the drift kernel scores well above PASS
_DRIFT_EXTRA = b"ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789@$%^!?|~"
N_BUCKETS = 16  # ValidationConfig().n_repo_buckets


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark scale."""

    n_files: int          # corpus rows before plants
    n_repos: int
    n_data_files: int     # parquet files the snapshot is split into
    mean_len: float       # mean content length in bytes
    n_docs: int           # dedup documents before plants
    n_vecs: int           # embeddings before plants
    n_planted: int        # order of magnitude of each planted defect


SCALES = {
    "bench": Scale(n_files=32_000, n_repos=240, n_data_files=4, mean_len=1000.0,
                   n_docs=1500, n_vecs=1500, n_planted=40),
    # the self-check scale: sf0.001-sized, every defect still planted
    "tiny": Scale(n_files=3_000, n_repos=48, n_data_files=4, mean_len=300.0,
                  n_docs=150, n_vecs=150, n_planted=6),
}


def repo_bucket(repo: str) -> int:
    return zlib.crc32(repo.encode("utf-8")) % N_BUCKETS


def _content(rng: np.random.Generator, alphabet: bytes, lengths: np.ndarray) -> list[str]:
    alpha = np.frombuffer(alphabet, dtype=np.uint8)
    blob = alpha[rng.integers(0, len(alpha), int(lengths.sum()))].tobytes().decode("latin-1")
    ends = np.cumsum(lengths)
    return [blob[e - n:e] for n, e in zip(lengths.tolist(), ends.tolist())]


# ---------------------------------------------------------------------------
# corpus snapshot (validate_snapshot)
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    baseline: pd.DataFrame          # trusted corpus the baseline is built from
    snapshot: pd.DataFrame          # drifted corpus + planted defects
    commits: pd.DataFrame           # (repo, commit) parents
    drifted_buckets: list[int]
    n_dup: int                      # duplicated keys (2 violation rows each)
    n_null: int                     # rows with NULL content
    n_dangle: int                   # rows pointing at a missing commit
    file_of_row: np.ndarray         # data file index of each snapshot row
    churn_rows: dict                # file -> rows its churned rewrite nulls


def make_corpus(seed: int, scale: Scale) -> Corpus:
    """A source-code corpus snapshot: Zipf-hot repos, 4 commits each,
    log-normal file sizes, per-language byte alphabets.

    Planted against the baseline: every repo of three seed-chosen
    buckets rewritten with extra bytes, and inside those buckets
    ``n_dup`` duplicated natural keys, ``n_null`` NULL contents and
    ``n_dangle`` dangling commits (disjoint rows)."""
    rng = np.random.default_rng([seed, 1])
    n = scale.n_files
    repos = np.array([f"repo{i:04d}" for i in range(scale.n_repos)])
    # repo 0 holds ~30% of the files; the rest are Zipf-ish
    w = 1.0 / np.arange(1, scale.n_repos + 1) ** 0.8
    w[0] = 0.0
    w = 0.7 * w / w.sum()
    w[0] = 0.3
    repo_idx = rng.choice(scale.n_repos, size=n, p=w)
    lang_idx = rng.integers(0, len(LANGS), n)
    langs = np.array(LANGS)[lang_idx]
    commit_slot = rng.integers(0, 4, n)
    commit_ids = np.array(
        [f"{zlib.crc32(f'{r}@{c}'.encode()):08x}{c}" for r in repos for c in range(4)]
    )
    commits = commit_ids[repo_idx * 4 + commit_slot]
    paths = np.array([f"src/m{i % 97}/f{i:07d}.{langs[i]}" for i in range(n)])
    lengths = np.clip(
        rng.lognormal(np.log(scale.mean_len) - 0.5, 1.0, n), 8, 20 * scale.mean_len
    ).astype(np.int64)

    content = np.empty(n, dtype=object)
    for lg in LANGS:
        sel = np.flatnonzero(langs == lg)
        content[sel] = _content(rng, _ALPHA[lg], lengths[sel])
    base = pd.DataFrame({
        "repo": repos[repo_idx], "path": paths, "commit": commits,
        "lang": langs, "content": content,
    })
    parents = base[["repo", "commit"]].drop_duplicates().reset_index(drop=True)

    # drift: 3 seed-chosen buckets, every file of every repo in them
    drifted = sorted(rng.choice(N_BUCKETS, size=3, replace=False).tolist())
    bucket = np.array([repo_bucket(r) for r in repos])[repo_idx]
    snap = base.copy()
    dsel = np.flatnonzero(np.isin(bucket, drifted))
    for lg in LANGS:
        sel = dsel[langs[dsel] == lg]
        snap.loc[sel, "content"] = _content(rng, _ALPHA[lg] + _DRIFT_EXTRA, lengths[sel])

    # planted defects on disjoint clean rows of the drifted buckets, so
    # every other partition stays bit-identical to the baseline (a
    # handful of changed files can move a small partition past PASS)
    k = scale.n_planted
    n_dup, n_null, n_dangle = (int(x) for x in rng.integers(k, 2 * k, 3))
    pick = rng.permutation(dsel)
    dup_rows = pick[:n_dup]
    null_rows = pick[n_dup:n_dup + n_null]
    dangle_rows = pick[n_dup + n_null:n_dup + n_null + n_dangle]
    clean_rows = pick[n_dup + n_null + n_dangle:]
    snap.loc[null_rows, "content"] = None
    snap.loc[dangle_rows, "commit"] = [f"dangling{i:08x}" for i in range(n_dangle)]
    snap = pd.concat([snap, snap.iloc[dup_rows]], ignore_index=True)

    # contiguous row ranges per data file; the duplicate copies land in
    # seed-chosen files
    f = scale.n_data_files
    file_of_row = np.concatenate([
        np.arange(n) * f // n, rng.integers(0, f, n_dup),
    ])
    order = np.argsort(file_of_row, kind="stable")
    snap = snap.iloc[order].reset_index(drop=True)
    file_of_row = file_of_row[order]
    orig_row = np.concatenate([np.arange(n), dup_rows])[order]

    # rows each file's churned rewrite nulls: clean rows of the drifted
    # buckets, never planted
    is_clean = np.zeros(n, dtype=bool)
    is_clean[clean_rows] = True
    churn_rows = {}
    for fi in range(f):
        cand = np.flatnonzero(file_of_row == fi)
        cand = cand[is_clean[orig_row[cand]]]
        churn_rows[fi] = np.sort(rng.choice(cand, size=min(5, len(cand)), replace=False))
    return Corpus(base, snap, parents, drifted, n_dup, n_null, n_dangle,
                  file_of_row, churn_rows)


def write_parquet_files(df: pd.DataFrame, file_of_row: np.ndarray, out_dir: str,
                        n_files: int) -> None:
    """One parquet file per data-file index, written by pyarrow (no
    Hadoop checksum sidecars, so files can be swapped in place)."""
    os.makedirs(out_dir, exist_ok=True)
    for fi in range(n_files):
        write_one(df[file_of_row == fi], os.path.join(out_dir, f"part-{fi:05d}.parquet"))


def write_one(df: pd.DataFrame, path: str) -> None:
    tbl = pa.Table.from_pandas(df, preserve_index=False, schema=pa.schema([
        ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
        ("lang", pa.string()), ("content", pa.string()),
    ]))
    pq.write_table(tbl, path)


def corpus_truth(c: Corpus) -> dict:
    """Exact expected outputs for the engine workloads."""
    snap = c.snapshot
    lens = snap["content"].str.len()
    present = lens.notna()
    per_lang = {}
    for lg, g in snap.groupby("lang"):
        gl = g["content"].str.len().dropna()
        per_lang[lg] = {
            "n_rows": len(g), "n_null_content": int(g["content"].isna().sum()),
            "len_min": int(gl.min()), "len_max": int(gl.max()),
            "distinct_paths": int(g["path"].nunique()),
        }
    buckets = snap["repo"].map(repo_bucket)
    quantiles = {}
    for (b, lg), g in snap[present].assign(_b=buckets[present], _len=lens[present]).groupby(["_b", "lang"]):
        # Hazen plotting positions, (k - 0.5) / n: the definition a
        # t-digest interpolates with, so a digest of singleton
        # centroids is exact and the error left is compression's
        quantiles[(int(b), lg)] = np.quantile(
            g["_len"].to_numpy(np.float64), [0.5, 0.9, 0.99], method="hazen")
    non_pass = sorted(
        {(int(b), lg) for b, lg in zip(buckets, snap["lang"]) if b in c.drifted_buckets}
    )
    return {
        "violations": {"uniqueness": 2 * c.n_dup, "null_required": c.n_null,
                       "referential_commit_repo": c.n_dangle},
        "non_pass": non_pass, "per_lang": per_lang, "quantiles": quantiles,
        "distinct_paths": int(snap["path"].nunique()),
    }


# ---------------------------------------------------------------------------
# dedup corpus (dedup_corpus)
# ---------------------------------------------------------------------------

@dataclass
class DedupInputs:
    docs: pd.DataFrame            # doc_id, text
    vecs: pd.DataFrame            # vec_id, embedding
    typo_pairs: set               # (orig, copy): <= 3 substitutions past the prefix
    corrupt_pairs: set            # (orig, copy): first and one later word replaced
    vec_pairs: set                # (orig, copy): cosine >= 0.99


def make_dedup(seed: int, scale: Scale) -> DedupInputs:
    """Word-soup documents with planted typo copies (edit distance 1-3,
    same 12-char prefix) and corrupted copies (two words replaced,
    first one included, so they block apart for edit distance but stay
    minhash-similar); unit embeddings with planted near-copies."""
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=int(rng.integers(3, 9)))) for _ in range(400)]
    n = scale.n_docs
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(40, 80)))) for _ in range(n)]
    k = scale.n_planted
    n_typo, n_corrupt = (int(x) for x in rng.integers(2 * k, 3 * k, 2))
    origs = rng.permutation(n)[:n_typo + n_corrupt]
    typo_pairs, corrupt_pairs = set(), set()
    extra = []
    for i, o in enumerate(origs.tolist()):
        new_id = n + i
        src = texts[o]
        if i < n_typo:
            chars = list(src)
            pos = rng.choice(np.arange(12, len(chars)), size=int(rng.integers(1, 4)), replace=False)
            for p in pos.tolist():
                chars[p] = "Z" if chars[p] != "Z" else "Q"
            extra.append("".join(chars))
            typo_pairs.add((o, new_id))
        else:
            words = src.split(" ")
            for wi in (0, int(rng.integers(1, len(words)))):
                words[wi] = "X" + "".join(rng.choice(letters, size=6))
            extra.append(" ".join(words))
            corrupt_pairs.add((o, new_id))
    docs = pd.DataFrame({"doc_id": np.arange(n + len(extra), dtype=np.int64),
                         "text": texts + extra})

    dim = 64
    m = scale.n_vecs
    v = rng.normal(size=(m, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    n_near = int(rng.integers(k, 2 * k))
    src = rng.permutation(m)[:n_near]
    near = v[src] + rng.normal(scale=0.01, size=(n_near, dim))
    near /= np.linalg.norm(near, axis=1, keepdims=True)
    allv = np.vstack([v, near]).astype(np.float32)
    vecs = pd.DataFrame({"vec_id": np.arange(m + n_near, dtype=np.int64),
                         "embedding": list(allv)})
    vec_pairs = {(int(s), m + i) for i, s in enumerate(src.tolist())}
    return DedupInputs(docs, vecs, typo_pairs, corrupt_pairs, vec_pairs)
