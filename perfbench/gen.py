"""Seeded input generators for the link-graph benchmark.

Both generators are pure numpy, so the same seed gives byte-identical
tables on every run.  The program under test only ever sees the parquet
files written here.

``corpus``  the source-code table ``(repo, path, commit, lang, content)``:
            heavy-tailed repo sizes, commits local to one directory with
            Zipf sizes, a few mega-commits above the default ``max_group``
            (1000) of ``build_file_graph``, fork families that replay
            their parent's history and one boilerplate file shared by
            more than 1000 repos.
``edges``   an undirected weighted edge table ``(src, dst, weight)``:
            planted communities of power-law sizes with mixing ``MIXING``,
            Chung-Lu degrees plus one hub, ids shuffled but dense 0..n-1
            with no isolated vertex (what ``build_*_graph`` emits).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LANGS = np.array(["py", "c", "java", "rs", "go", "js"])

# corpus_communities input shape (sizes are recorded in perfbench/README.md)
CORPUS = dict(
    n_repos=1150,        # base repos; forks come on top
    max_forks=4,
    mega_repos=2,        # repos with one initial commit > max_group files
    mega_files=1200,
    boilerplate_frac=0.93,
    snippet_pool=4000,   # vendored snippets shared across unrelated repos
    snippet_rate=0.04,
    zipf_a=2.2,          # commit-size exponent
    file_scale=1.0,      # Pareto scale of files per repo
)
# graph_pillars: share of edges leaving their community, hub weight / n
MIXING = 0.25
HUB_FRAC = 1 / 6


def _commit_hash(rng: np.random.Generator) -> str:
    a, b, c = rng.integers(0, 2**63 - 1, size=3)
    return f"{a:016x}{b:016x}{c & 0xFFFFFFFF:08x}"


def _quantiles(rng: np.random.Generator, n: int) -> np.ndarray:
    """The n mid-quantiles (i + 0.5) / n in random order: a heavy-tailed
    size drawn through them keeps its tail, while the multiset of sizes,
    and so the corpus total, is the same for every seed."""
    return rng.permutation((np.arange(n) + 0.5) / n)


def corpus_table(seed: int) -> pa.Table:
    p = CORPUS
    rng = np.random.default_rng([seed, 1])
    cols: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}

    def emit(repo, paths, commit, contents):
        cols["repo"].extend([repo] * len(paths))
        cols["path"].extend(paths)
        cols["commit"].extend([commit] * len(paths))
        cols["lang"].extend(x.rsplit(".", 1)[-1] for x in paths)
        cols["content"].extend(contents)

    # vendored snippets: Zipf popularity over a fixed pool
    pop = 1.0 / np.arange(1, p["snippet_pool"] + 1) ** 0.9
    pop /= pop.sum()
    n_repos = p["n_repos"]
    # heavy-tailed repo sizes: Pareto(1.2) quantiles, capped
    u = _quantiles(rng, n_repos)
    repo_files = np.minimum(900, 3 + p["file_scale"] * ((1.0 - u) ** (-1 / 1.2) - 1.0)).astype(int)
    mega = rng.choice(n_repos, size=p["mega_repos"], replace=False)
    repo_files[mega] = p["mega_files"]
    # every 8th repo in size order, below the median size, has 1..4 forks
    n_forks = np.zeros(n_repos, dtype=int)
    by_size = np.argsort(repo_files, kind="stable")[: n_repos // 2]
    forked = by_size[int(rng.integers(0, 8))::8]
    n_forks[forked] = 1 + np.arange(len(forked)) % p["max_forks"]
    zipf_cdf = np.cumsum(np.arange(1, 1001, dtype=np.float64) ** -p["zipf_a"])
    zipf_cdf /= zipf_cdf[-1]
    for r in range(n_repos):
        repo = f"org{r % 97:02d}/repo{r:05d}"
        n_files = int(repo_files[r])
        # directories of 3..40 files each, the same sequence in every repo
        dir_sizes = []
        left = n_files
        while left > 0:
            dir_sizes.append(min(left, 3 + (len(dir_sizes) * 17) % 38))
            left -= dir_sizes[-1]
        ext = _LANGS[rng.integers(0, len(_LANGS))]
        paths = [
            f"d{d:03d}/f{i:03d}.{ext}"
            for d, s in enumerate(dir_sizes) for i in range(s)
        ]
        starts = np.concatenate([[0], np.cumsum(dir_sizes)[:-1]])
        history: list[tuple[str, list[str], list[str]]] = []
        version = np.zeros(n_files, dtype=np.int64)

        def content_of(i, v):
            if rng.random() < p["snippet_rate"]:
                return f"snippet-{int(rng.choice(p['snippet_pool'], p=pop))}"
            return f"{repo}:{paths[i]}@{v}"

        def commit(idx):
            version[idx] += 1
            history.append((_commit_hash(rng), [paths[i] for i in idx],
                            [content_of(i, version[i]) for i in idx]))

        if r in mega:
            # one import commit touching every file: a k^2/2 pair bomb
            commit(np.arange(n_files))
        if rng.random() < p["boilerplate_frac"]:
            history.append((_commit_hash(rng), ["LICENSE"], ["MIT License boilerplate text"]))
        # commit sizes: Zipf quantiles per repo; a commit lands in one
        # directory large enough for it, picked in proportion to size
        ds = np.asarray(dir_sizes)
        n_commits = max(2, int(n_files * 0.8))
        sizes = np.minimum(1 + np.searchsorted(zipf_cdf, _quantiles(rng, n_commits)), ds.max())
        for k in sizes:
            w = np.where(ds >= k, ds, 0).astype(np.float64)
            d = int(rng.choice(len(ds), p=w / w.sum()))
            commit(np.sort(starts[d] + rng.choice(ds[d], size=int(k), replace=False)))
        for h, cps, cts in history:
            emit(repo, cps, h, cts)
        # forks replay three quarters of the parent's history (same commit
        # ids and contents) and add a few commits of their own
        for f in range(n_forks[r]):
            fork = f"fork{f}/repo{r:05d}"
            for h, cps, cts in history[: max(1, 3 * len(history) // 4)]:
                emit(fork, cps, h, cts)
            for _ in range(3):
                d = int(rng.integers(0, len(dir_sizes)))
                k = int(min(rng.zipf(p["zipf_a"]), dir_sizes[d]))
                idx = np.sort(starts[d] + rng.choice(dir_sizes[d], size=k, replace=False))
                h = _commit_hash(rng)
                emit(fork, [paths[i] for i in idx], h,
                     [f"{fork}:{paths[i]}@{h[:8]}" for i in idx])
    return pa.table({k: pa.array(v, type=pa.string()) for k, v in cols.items()})


def edge_table(seed: int, n: int, m: int) -> pa.Table:
    """Undirected simple graph, one row per edge in a random direction."""
    rng = np.random.default_rng([seed, 2])
    # community sizes: power law, from 10 up to n/25, and expected degrees:
    # Chung-Lu with Pareto(2) weights and one hub; both drawn through
    # mid-quantiles, so only the wiring changes between seeds
    for k in range(1, n):
        sizes = np.minimum(10 / np.sqrt(1.0 - (np.arange(k) + 0.5) / k), n // 25).astype(int)
        if sizes.sum() >= n:
            break
    sizes = rng.permutation(sizes)
    sizes[np.argmax(sizes)] -= sizes.sum() - n
    comm = np.repeat(np.arange(len(sizes)), sizes)
    w = 1.0 / np.sqrt(1.0 - _quantiles(rng, n))
    w *= (2.0 * m / n) / w.mean()
    w[0] = HUB_FRAC * n
    # global sampler and per-community samplers share one cumulative array
    # ordered by community (comm is already sorted)
    cum = np.cumsum(w)
    total = cum[-1]
    c_end = np.cumsum(np.bincount(comm, weights=w))
    c_start = c_end - np.bincount(comm, weights=w)
    k = int(m * 1.6)
    src = np.searchsorted(cum, rng.random(k) * total, side="right")
    inside = rng.random(k) >= MIXING
    c = comm[src]
    local = c_start[c] + rng.random(k) * (c_end[c] - c_start[c])
    dst = np.where(
        inside,
        np.searchsorted(cum, local, side="right"),
        np.searchsorted(cum, rng.random(k) * total, side="right"),
    )
    src = np.minimum(src, n - 1)
    dst = np.minimum(dst, n - 1)
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    key = np.unique(lo * n + hi)
    key = rng.permutation(key)[:m]
    lo, hi = key // n, key % n
    # dense ids over the vertices that have an edge, in shuffled order
    present = np.unique(np.concatenate([lo, hi]))
    relabel = np.full(n, -1, dtype=np.int64)
    relabel[present] = rng.permutation(len(present))
    a, b = relabel[lo], relabel[hi]
    flip = rng.random(len(a)) < 0.5
    src = np.where(flip, b, a)
    dst = np.where(flip, a, b)
    weight = rng.integers(1, 4, size=len(a)).astype(np.float64)
    return pa.table({"src": src, "dst": dst, "weight": weight})


def cached(path: str, build) -> str:
    """Write ``build()`` to ``path`` once; later calls reuse the file."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return path
