"""Seeded input tables for the benchmark workloads, plus NumPy twins of
the graphs the package derives from them.

Everything here is a pure function of ``(seed, size)`` and runs in the
benchmark process before any timing starts.  Tables are written as
Parquet with pyarrow; the package only ever sees those files.

The twins (``*_graph``) rebuild, independently of the package, the edge
table the package's ingest is expected to produce from the same rows.
They feed the oracles and the ingest output check.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Graph:
    """A symmetric edge table as NumPy arrays (both orientations, no
    self-loops, one row per ordered pair)."""

    src: np.ndarray  # int64
    dst: np.ndarray  # int64
    weight: np.ndarray  # float64

    @property
    def m(self) -> int:
        return len(self.src)

    def vids(self) -> np.ndarray:
        return np.unique(np.concatenate([self.src, self.dst]))

    def max_degree(self) -> int:
        return int(np.bincount(np.unique(self.src, return_inverse=True)[1]).max()) if self.m else 0


def _sym_max(src: np.ndarray, dst: np.ndarray, w: np.ndarray) -> Graph:
    """Union both orientations, drop self-loops, keep the max weight per
    ordered pair (``graph.symmetrize`` semantics)."""
    s = np.concatenate([src, dst]).astype(np.int64)
    d = np.concatenate([dst, src]).astype(np.int64)
    ww = np.concatenate([w, w]).astype(np.float64)
    keep = s != d
    s, d, ww = s[keep], d[keep], ww[keep]
    order = np.lexsort((-ww, d, s))
    s, d, ww = s[order], d[order], ww[order]
    first = np.ones(len(s), dtype=bool)
    first[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return Graph(s[first], d[first], ww[first])


def _count_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct (a, b) pairs with their multiplicity as a double."""
    pairs, counts = np.unique(np.stack([a, b], axis=1), axis=0, return_counts=True)
    return pairs[:, 0], pairs[:, 1], counts.astype(np.float64)


# ---------------------------------------------------------------- TPC-H ----


def write_tpch(out_dir: str, sf: float, seed: int) -> dict:
    """``orders`` and ``lineitem`` with dbgen's key distributions at
    scale factor ``sf`` (the only columns ``tpch_graph`` reads).

    - customers 1..150000·sf, of which keys divisible by 3 place no
      orders; orders 1500000·sf with dbgen's sparse order keys;
    - 1-7 lines per order; part keys uniform; each line's supplier is
      one of the part's 4 ``partsupp`` suppliers.
    """
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    i = np.arange(n_ord, dtype=np.int64)
    okey = (i // 8) * 32 + i % 8 + 1
    cust = np.arange(1, n_cust + 1, dtype=np.int64)
    cust = cust[cust % 3 != 0]
    ocust = rng.choice(cust, size=n_ord)
    lines = rng.integers(1, 8, size=n_ord)
    lokey = np.repeat(okey, lines)
    n_li = len(lokey)
    lpart = rng.integers(1, n_part + 1, size=n_li, dtype=np.int64)
    corner = rng.integers(0, 4, size=n_li, dtype=np.int64)
    lsupp = (lpart + corner * (n_supp // 4 + (lpart - 1) // n_supp)) % n_supp + 1
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"o_orderkey": okey, "o_custkey": ocust}), os.path.join(out_dir, "orders.parquet")
    )
    pq.write_table(
        pa.table({"l_orderkey": lokey, "l_partkey": lpart, "l_suppkey": lsupp}),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    return {"okey": okey, "ocust": ocust, "lokey": lokey, "lpart": lpart, "lsupp": lsupp}


def tpch_bipartite_graph(t: dict) -> Graph:
    """Twin of ``tpch_graph.bipartite_sym``: customer c → 2c, supplier
    s → 2s+1, weight = number of lineitems, both orientations."""
    lcust = t["ocust"][np.searchsorted(t["okey"], t["lokey"])]  # okey is sorted
    a, b, w = _count_pairs(lcust * 2, t["lsupp"] * 2 + 1)
    return _sym_max(a, b, w)


def tpch_coparts_graph(t: dict, order_mod: int = 20) -> Graph:
    """Twin of ``tpch_graph.coparts_edges`` (canonical src < dst, weight
    = co-occurrences), returned symmetric for the triangle oracle."""
    keep = t["lokey"] % order_mod == 0
    ok, pk = t["lokey"][keep], t["lpart"][keep]
    a_all, b_all = [], []
    for k in range(1, 7):  # lines of one order are contiguous, at most 7
        same = ok[k:] == ok[:-k]
        a_all.append(pk[:-k][same])
        b_all.append(pk[k:][same])
    a = np.concatenate(a_all)
    b = np.concatenate(b_all)
    diff = a != b
    lo, hi = np.minimum(a, b)[diff], np.maximum(a, b)[diff]
    s, d, w = _count_pairs(lo, hi)
    return _sym_max(s, d, w)


# ------------------------------------------------------- source table ----

LANGS = ["py", "cc", "java", "go"]
_IMPORT_FMT = {
    "py": "import {}",
    "cc": '#include "{}.h"',
    "java": "import pkg.{};",
    "go": 'import "pkg/{}"',
}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def write_source_table(path: str, n_repos: int, files_per_repo: int, seed: int) -> Graph:
    """The north-rule input ``(repo, path, commit, lang, content)`` and
    the twin of ``symmetrize(build_link_graph(...)[2])`` over it.

    Per repo (language drawn from the seed):
      - file 0 is a vendored file, identical in every repo: one content
        group of ``n_repos`` files, which ingest turns into a star hub;
      - file f > 0 imports file (f - 1) // 2 of the same repo (a
        shallow import tree);
      - a fifth of the other files (drawn from the seed) are copies
        shared by every repo of the same language: content groups of
        about ``n_repos / 20`` files, which ingest turns into stars;
      - a twentieth are copies of one of ``n_repos // 2`` snippets:
        content groups of a few files, which ingest turns into cliques
        (the graph's triangles).
    """
    rng = np.random.default_rng(seed)
    f_per = files_per_repo
    lang_idx = rng.integers(0, 4, size=n_repos)
    kind = rng.random((n_repos, f_per))
    snippet = rng.integers(0, max(1, n_repos // 2), size=(n_repos, f_per))

    repos, paths, commits, langs, contents = [], [], [], [], []
    keys: list[tuple[str, str]] = []
    content_key: list[str] = []
    imports: list[tuple[int, int]] = []  # (row, imported file idx)
    vendored = f"// vendored common header\n{_md5(f'{seed}:vendored')}"
    for r in range(n_repos):
        lang = LANGS[lang_idx[r]]
        repo = f"org{r % 97:03d}/repo{r:05d}"
        commit = (_md5(f"{seed}:c:{repo}") * 2)[:40]
        for f in range(f_per):
            stem = f"mod_{f:04d}"
            p = f"src/{stem}.{lang}"
            row = len(paths)
            if f == 0:
                content, ck = vendored, "vendored"
            elif kind[r, f] < 0.05:
                g = int(snippet[r, f])
                content, ck = f"// shared snippet\n{_md5(f'{seed}:s:{g}')}", f"s{g}"
            else:
                parent = (f - 1) // 2
                imports.append((row, parent))
                line = _IMPORT_FMT[lang].format(f"mod_{parent:04d}")
                if kind[r, f] < 0.25:
                    body, ck = _md5(f"{seed}:d:{lang}:{f}"), f"d{lang}{f}"
                else:
                    body, ck = _md5(f"{seed}:u:{repo}:{p}"), f"u{row}"
                content = f"// module {stem}\n{line}\n{body}"
            repos.append(repo)
            paths.append(p)
            commits.append(commit)
            langs.append(lang)
            contents.append(content)
            keys.append((repo, p))
            content_key.append(ck)
    pq.write_table(
        pa.table(
            {"repo": repos, "path": paths, "commit": commits, "lang": langs, "content": contents}
        ),
        path,
    )

    # twin of ingest: dense vid = rank of (repo, path); shared-content
    # groups of <= 8 files become cliques, larger ones a star on the
    # group's min vid; import edges resolve within the repo
    order = sorted(range(len(keys)), key=keys.__getitem__)
    vid = np.empty(len(keys), dtype=np.int64)
    vid[np.asarray(order)] = np.arange(len(keys), dtype=np.int64)
    groups: dict[str, list[int]] = {}
    for row, ck in enumerate(content_key):
        if not ck.startswith("u"):
            groups.setdefault(ck, []).append(int(vid[row]))
    src: list[int] = []
    dst: list[int] = []
    for members in groups.values():
        if len(members) < 2:
            continue
        members.sort()
        if len(members) <= 8:
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    src.append(a)
                    dst.append(b)
        else:
            src.extend([members[0]] * (len(members) - 1))
            dst.extend(members[1:])
    for row, parent in imports:
        src.append(int(vid[row]))
        dst.append(int(vid[row - row % f_per + parent]))
    s = np.asarray(src, dtype=np.int64)
    d = np.asarray(dst, dtype=np.int64)
    return _sym_max(s, d, np.ones(len(s)))


# ------------------------------------------------------ long diameter ----


def write_permuted_path(path: str, n: int, seed: int) -> Graph:
    """A single path over ``n`` vertices visited in a random order: one
    component, diameter n-1, and vertex ids that give min-label
    propagation no shortcut."""
    perm = np.random.default_rng(seed).permutation(n).astype(np.int64)
    a, b = perm[:-1], perm[1:]
    pq.write_table(
        pa.table({"src": a, "dst": b, "weight": np.ones(n - 1)}), path
    )
    return _sym_max(a, b, np.ones(n - 1))
