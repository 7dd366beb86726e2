"""Seeded workload corpora and their oracle digests.

Every workload is built from `synth.gen_pages` in independent shards (one
sub-seed per shard, urls made shard-unique), so shards generate and run
through the pandas oracle in parallel and the oracle over the whole
corpus equals the union of the per-shard oracles: url dedup is the only
cross-row rule, and no url crosses a shard.

Workloads:

* ``web-mixed``   the synth mix of 11 categories as generated.
* ``dup-short``   texts cut to one line of < 50 words (the perplexity
                  gate stays shut) and every url recrawled about 4 times
                  with later ``warc_ts``, half of the recrawls with new
                  text.
* ``resume-half`` the ``web-mixed`` corpus plus a seeded choice of
                  already-done partitions holding about half the docs;
                  the job reads their manifest and skips them.

The program only ever sees the parquet files written here.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
WORKLOADS = ("web-mixed", "dup-short", "resume-half")

# Corpus shape: web-mixed has 8 x 4000 docs; dup-short generates 8 x 1400
# base docs and recrawls each about 4 times (~56k docs, similar job time).
SHARDS = 8
WEB_DOCS_PER_SHARD = 4000
DUP_BASE_PER_SHARD = 1400
WARMUP_DOCS = 2000
PREP_PROCS = 4
KEEP_CORPORA = 24         # generated corpora kept on disk (newest first)


def corpus_kind(workload: str) -> str:
    """resume-half runs on the web-mixed corpus of the same seed."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; "
                         f"choose from {', '.join(WORKLOADS)}")
    return "dup-short" if workload == "dup-short" else "web-mixed"


def _shard_seed(kind: str, seed: int, shard: int) -> int:
    salt = 0 if kind == "web-mixed" else 1
    return (seed * 2 + salt) * 1000 + shard


def _wrap_html(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: b"<html><body>" + t.encode("utf-8")
                     + b"</body></html>")


def _one_line(text: str) -> str:
    return " ".join(text.split("\n", 1)[0].split(" ")[:49])


def _dup_short(pages: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    """Cut each text to one short line and append ~4 later recrawls per
    url, half of them with a changed line."""
    from dataquality_spark import synth

    base = pages.copy()
    base["text"] = base["text"].map(_one_line)
    n_recrawls = rng.integers(3, 6, len(base))
    rows = []
    for url, ts, text, lang, k in zip(base["url"], base["warc_ts"],
                                      base["text"], base["lang"],
                                      n_recrawls):
        for _ in range(int(k)):
            ts = ts + pd.Timedelta(seconds=int(rng.integers(3600,
                                                            86400 * 30)))
            if rng.random() < 0.5:
                words = synth.gen_tokens(lang, int(rng.integers(8, 15)), rng)
                text = " ".join(words)
            rows.append((url, ts, text, lang))
    re = pd.DataFrame(rows, columns=["url", "warc_ts", "text", "lang"])
    out = pd.concat([base[["url", "warc_ts", "text", "lang"]], re],
                    ignore_index=True)
    out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")
    out["html"] = _wrap_html(out["text"])
    return out[PAGES_COLUMNS]


def partition_of(ts: pd.Series) -> pd.Series:
    """The job's partition_id: date_format(warc_ts, 'yyyy-MM') in UTC."""
    return ts.dt.strftime("%Y-%m")


def row_hashes(url, warc_ts_us, keep, rule_hits, text_scrubbed) -> list:
    """16-byte digest per decision row over (url, warc_ts, keep,
    rule_hits, text_scrubbed bytes); NULL scrubbed text hashes as ''."""
    out = []
    for u, ts, k, hits, txt in zip(url, warc_ts_us, keep, rule_hits,
                                   text_scrubbed):
        h = hashlib.blake2b(digest_size=16)
        h.update(u.encode("utf-8"))
        h.update(b"\x1f%d\x1f%d\x1f" % (int(ts), bool(k)))
        h.update(",".join(hits).encode("utf-8"))
        h.update(b"\x1f")
        h.update((txt or "").encode("utf-8"))
        out.append(h.digest())
    return out


def partition_digests(partitions, hashes) -> dict:
    """{partition_id: [row count, hex digest of the sorted row hashes]}."""
    groups: dict = {}
    for p, h in zip(partitions, hashes):
        groups.setdefault(p, []).append(h)
    return {p: [len(hs), hashlib.sha256(b"".join(sorted(hs))).hexdigest()]
            for p, hs in sorted(groups.items())}


def _ts_us(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[us]").astype("int64").to_numpy()


def _build_shard(kind: str, seed: int, shard: int, n: int, out_path: str):
    """Generate one shard of n base docs, write it, and return its oracle
    row hashes."""
    from dataquality_spark import oracle, synth

    sseed = _shard_seed(kind, seed, shard)
    pages = synth.gen_pages(n, seed=sseed)[PAGES_COLUMNS]
    pages["url"] = pages["url"].str.replace("/doc-", f"/doc{shard}-",
                                            regex=False)
    if kind == "dup-short":
        pages = _dup_short(pages, np.random.default_rng([sseed, 7]))
    pages.to_parquet(out_path, index=False)
    gold = oracle.run_oracle(pages)
    hashes = row_hashes(gold["url"], _ts_us(gold["warc_ts"]), gold["keep"],
                        gold["rule_hits"], gold["text_scrubbed"])
    # dup_or_stale per row feeds the direct-call UDF timings
    dup_stale = gold["rule_hits"].map(
        lambda h: "duplicate_url" in h or "stale_timestamp" in h)
    return (list(partition_of(gold["warc_ts"])), hashes,
            dup_stale.to_numpy().tolist())


def corpus_digest(corpus_dir: str) -> str:
    """sha256 over the corpus parquet files, in name order."""
    h = hashlib.sha256()
    for name in sorted(f for f in os.listdir(corpus_dir)
                       if f.endswith(".parquet")):
        with open(os.path.join(corpus_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _done_partitions(counts: dict, seed: int) -> list:
    """Seeded set of partitions holding about half of the docs."""
    pids = sorted(counts)
    order = np.random.default_rng([seed, 3]).permutation(len(pids))
    total, acc, done = sum(counts.values()), 0, []
    for i in order:
        if acc >= total / 2:
            break
        done.append(pids[i])
        acc += counts[pids[i]]
    return sorted(done)


def prepare(work: str, workload: str, seed: int) -> dict:
    """Build (or reuse) the workload corpus and its oracle for one seed.

    Returns {"input": parquet dir, "expected": {pid: [n, digest]},
    "done": [(pid, n)] manifest rows to pre-record, "dup_stale": path}.
    """
    kind = corpus_kind(workload)
    root = os.path.join(work, "corpora")
    cdir = os.path.join(root, f"{kind}-s{seed}")
    meta_path = os.path.join(root, f"{kind}-s{seed}.oracle.json")
    if not (os.path.exists(meta_path) and os.path.isdir(cdir)):
        _build(kind, seed, cdir, meta_path)
    os.utime(cdir)
    _evict(root, keep=KEEP_CORPORA)
    with open(meta_path) as f:
        meta = json.load(f)
    expected = meta["partitions"]
    done = []
    if workload == "resume-half":
        done_ids = _done_partitions({p: v[0] for p, v in expected.items()},
                                    seed)
        done = [(p, expected[p][0]) for p in done_ids]
        expected = {p: v for p, v in expected.items() if p not in done_ids}
    return {"input": cdir, "expected": expected, "done": done,
            "dup_stale": meta_path.replace(".oracle.json", ".dupstale.npy")}


def _build(kind: str, seed: int, cdir: str, meta_path: str) -> None:
    tmp = cdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = WEB_DOCS_PER_SHARD if kind == "web-mixed" else DUP_BASE_PER_SHARD
    with ProcessPoolExecutor(PREP_PROCS,
                             mp_context=mp.get_context("spawn")) as ex:
        futs = [ex.submit(_build_shard, kind, seed, k, n,
                          os.path.join(tmp, f"part-{k:02d}.parquet"))
                for k in range(SHARDS)]
        parts = [f.result() for f in futs]
    pids = [p for ps, _, _ in parts for p in ps]
    hashes = [h for _, hs, _ in parts for h in hs]
    dup_stale = np.array([d for _, _, ds in parts for d in ds], dtype=bool)
    np.save(meta_path.replace(".oracle.json", ".dupstale.npy"), dup_stale)
    shutil.rmtree(cdir, ignore_errors=True)
    os.replace(tmp, cdir)
    with open(meta_path + ".tmp", "w") as f:
        json.dump({"kind": kind, "seed": seed, "n_docs": len(hashes),
                   "partitions": partition_digests(pids, hashes)}, f)
    os.replace(meta_path + ".tmp", meta_path)


def _evict(root: str, keep: int) -> None:
    """Drop all but the `keep` most recently used corpora."""
    dirs = [os.path.join(root, d) for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
            and not d.endswith(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
        for suffix in (".oracle.json", ".dupstale.npy"):
            if os.path.exists(d + suffix):
                os.remove(d + suffix)


def prepare_warmup(work: str) -> str:
    """Small fixed corpus for the set-up warm-up job (seed-independent)."""
    path = os.path.join(work, "warmup")
    if not os.path.isdir(path):
        from dataquality_spark import synth

        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pages = synth.gen_pages(WARMUP_DOCS, seed=0)[PAGES_COLUMNS]
        for k in range(4):
            pages.iloc[k::4].to_parquet(
                os.path.join(tmp, f"part-{k}.parquet"), index=False)
        os.replace(tmp, path)
    return path


def decisions_digests(decisions_dir: str) -> dict:
    """Partition digests of a written decisions table."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(decisions_dir, format="parquet",
                   partitioning="hive").to_table(
        columns=["url", "warc_ts", "keep", "rule_hits", "text_scrubbed",
                 "partition_id"])
    ts = t.column("warc_ts")
    if ts.type.tz is not None:
        ts = ts.cast(pa.timestamp(ts.type.unit))
    ts_us = ts.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    hashes = row_hashes(t.column("url").to_pylist(), ts_us,
                        t.column("keep").to_pylist(),
                        t.column("rule_hits").to_pylist(),
                        t.column("text_scrubbed").to_pylist())
    pids = [str(p) for p in t.column("partition_id").to_pylist()]
    return partition_digests(pids, hashes)


def check_decisions(decisions_dir: str, expected: dict) -> list:
    """Partitions whose decisions differ from the oracle ([] = correct)."""
    got = decisions_digests(decisions_dir)
    return sorted(p for p in set(got) | set(expected)
                  if got.get(p) != expected.get(p))
