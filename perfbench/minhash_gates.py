"""Recall gates for the MinHash dedup family, run by ``selfcheck.py``.

``dedup_minhash_lsh``, ``dedup_incremental`` and ``dedup_clusters`` band
16 x 4 MinHash signatures. With a proper MinHash that banding admits a
pair at Jaccard >= RECALL_J with P > 1 - 1e-11 and a planted re-crawl
at J >= 0.8 with P > 1 - 2e-4, so each gate below demands recall 1 on
those pairs, a non-empty result, and that every reported pair
re-verifies exactly.
"""

from __future__ import annotations

from goskyr_spark.ops import dedup

from dedup_wl import THRESHOLD, exact_pairs, jaccard, shingle_set

RECALL_J = 0.95
QUERIES = ["dedup_minhash_lsh", "dedup_incremental", "dedup_clusters"]


def _bad_pairs(xs, ys, vals, ref) -> int:
    return sum(abs(ref(int(x), int(y)) - float(v)) > 1e-4 or float(v) < THRESHOLD
               for x, y, v in zip(xs, ys, vals))


def gates(docs, res: dict) -> list[tuple[str, bool, str]]:
    """``docs``: the documents table (pandas); ``res``: query -> result."""
    sh = {int(d): shingle_set(t) for d, t in zip(docs["doc_id"], docs["text"])}
    exact = exact_pairs(sh)
    strong = {k for k, j in exact.items() if j >= RECALL_J}
    return [_minhash(res["dedup_minhash_lsh"], sh, strong),
            _incremental(res["dedup_incremental"], docs, sh),
            _clusters(res["dedup_clusters"], exact, strong)]


def _minhash(df, sh, strong):
    got = {(int(a), int(b)) for a, b in zip(df["doc_a"], df["doc_b"])}
    bad = _bad_pairs(df["doc_a"], df["doc_b"], df["jaccard"],
                     lambda x, y: jaccard(sh[x], sh[y]))
    missed = len(strong - got)
    return ("dedup.minhash_lsh_pairs", bool(got) and bad == 0 and missed == 0,
            f"pairs={len(got)} bad={bad} missed_at_j>={RECALL_J}={missed}/{len(strong)}")


def _incremental(df, docs, sh):
    """The batch re-crawls ``doc_id % INCR_DUP_MOD == INCR_DUP_REM`` with
    two new tokens; each one at Jaccard >= THRESHOLD must be matched to
    the document it copies."""
    off, mod, rem = dedup.INCR_OFFSET, dedup.INCR_DUP_MOD, dedup.INCR_DUP_REM
    batch = {int(d) + off: shingle_set(t + " zzincr zzbatch")
             for d, t in zip(docs["doc_id"], docs["text"]) if d % mod == rem}
    bad = _bad_pairs(df["new_doc_id"], df["dup_of"], df["jaccard"],
                     lambda n, o: jaccard(batch[n], sh[o]))
    got = {(int(n), int(o)) for n, o in zip(df["new_doc_id"], df["dup_of"])}
    want = {(n, n - off) for n in batch if jaccard(batch[n], sh[n - off]) >= THRESHOLD}
    missed = len(want - got)
    return ("dedup.incremental_pairs", bool(got) and bad == 0 and missed == 0,
            f"pairs={len(got)} bad={bad} recrawls_missed={missed}/{len(want)}")


def _clusters(df, exact, strong):
    """Clusters against the connected components of the exact pairs: a
    cluster never spans two exact components, the two ends of every pair
    at Jaccard >= RECALL_J share a cluster, and each cluster is labelled
    by its smallest member, which alone is kept."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in exact:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    got = {int(n): int(c) for n, c in zip(df["doc_id"], df["component"])}
    members: dict[int, list] = {}
    for n, c in got.items():
        members.setdefault(c, []).append(n)
    split = sum(len({find(n) for n in ns}) > 1 or any(n not in parent for n in ns)
                for ns in members.values())
    unjoined = sum(got.get(a) is None or got.get(a) != got.get(b) for a, b in strong)
    labels_ok = all(min(ns) == c for c, ns in members.items()) and all(
        bool(k) == (int(n) == int(c)) for n, c, k in zip(df["doc_id"], df["component"], df["keep"]))
    return ("dedup.clusters_match_exact_pairs",
            bool(got) and split == 0 and unjoined == 0 and labels_ok,
            f"nodes={len(got)} clusters={len(members)} not_exact={split} "
            f"pairs_at_j>={RECALL_J}_not_joined={unjoined}/{len(strong)} labels_ok={labels_ok}")
