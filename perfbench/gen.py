"""Seeded input generator and the generator's own model of the data.

Everything here is NumPy + pyarrow: the engine only ever sees the parquet
files and query vectors this module produces. The same seed gives the same
corpus, queries, filters and op stream.

Corpus shape: points drawn around cluster centres in a 16-d latent space,
projected to 64-d, plus small isotropic noise. Real embedding corpora have
low intrinsic dimension; an isotropic Gaussian corpus makes IVF-PQ recall
swing with every knob and is not something anyone would serve.

Metadata is drawn independently of geometry and skewed, so the filtered
planner sees both kinds of filter:

- three large tenants and thirteen small ones: a small-tenant filter keeps
  ~1.5% of rows (PRE plan, allowed-id semi-join);
- tag 0 sits on ~60% of rows: a tag-ANY filter on it is permissive
  (POST plan, over-fetch then filter).

`Model` is the dict model of the visible set (id -> latest visible row).
It answers exact top-k with NumPy, which is the recall oracle: the same
L2 scores as the engine's exact `topk`, over the same visible view.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LATENT_DIM = 16
DIM = 64
N_CLUSTERS = 96
N_TAGS = 32
# tenant shares: three big tenants, the rest split evenly among 13 small ones
BIG_TENANTS = (("t00", 0.50), ("t01", 0.20), ("t02", 0.10))
SMALL_TENANTS = tuple(f"t{i:02d}" for i in range(3, 16))
MARKER_TENANT = "rw"
POST_TAG = 0

SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("id", pa.int64()),
        ("tenant", pa.string()),
        ("namespace", pa.string()),
        ("vector", pa.list_(pa.float32())),
        ("tags", pa.list_(pa.int32())),
        ("epoch", pa.int64()),
    ]
)

_MASK64 = (1 << 64) - 1


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x


def visible_checksum(ids, epochs) -> int:
    """Order-independent checksum of an (id, epoch) set: the sum of a
    64-bit hash of each pair, mod 2^64."""
    ids = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    epochs = np.asarray(epochs, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = _mix64(ids * np.uint64(0x9E3779B97F4A7C15) + _mix64(epochs))
    return int(h.sum(dtype=np.uint64)) & _MASK64


def row_bytes(vector, tenant, namespace, tags) -> int:
    """User bytes of one op: id + epoch, the raw float32 vector, the
    metadata strings and int32 tags. The base of write_amp/space_amp."""
    n = 16 + len(tenant or "") + len(namespace or "") + 4 * len(tags or ())
    return n + (0 if vector is None else 4 * len(vector))


class Model:
    """The visible set as the generator wrote it: id -> (epoch, vector,
    tenant, namespace, tags) of the id's latest visible version."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}

    def apply(self, ops: dict) -> None:
        for op, i, e, v, t, ns, tg in zip(
            ops["op"], ops["id"].tolist(), ops["epoch"].tolist(), ops["vector"],
            ops["tenant"], ops["namespace"], ops["tags"],
        ):
            if op == "DELETE":
                self.rows.pop(i, None)
            else:
                self.rows[i] = (e, v, t, ns, tuple(tg))

    def copy(self) -> "Model":
        m = Model()
        m.rows = dict(self.rows)
        return m

    def count(self) -> int:
        return len(self.rows)

    def checksum(self) -> int:
        if not self.rows:
            return 0
        ids = np.fromiter(self.rows.keys(), dtype=np.int64)
        eps = np.fromiter((r[0] for r in self.rows.values()), dtype=np.int64)
        return visible_checksum(ids, eps)

    def live_bytes(self) -> int:
        return sum(row_bytes(v, t, ns, tg) for _, v, t, ns, tg in self.rows.values())

    def view(self) -> "View":
        return View(self)


class View:
    """Array form of a model snapshot, for exact search and answer checks."""

    def __init__(self, model: Model):
        items = list(model.rows.items())
        self.ids = np.array([i for i, _ in items], dtype=np.int64)
        self.vecs = (
            np.stack([np.asarray(r[1], np.float32) for _, r in items])
            if items else np.zeros((0, DIM), np.float32)
        )
        self.tenants = np.array([r[2] for _, r in items], dtype=object)
        self.namespaces = np.array([r[3] for _, r in items], dtype=object)
        self.tags = [r[4] for _, r in items]
        self.pos = {i: p for p, i in enumerate(self.ids.tolist())}

    def mask(self, tenant: str = "", namespace: str = "", tags_any=()) -> np.ndarray:
        m = np.ones(len(self.ids), dtype=bool)
        if tenant:
            m &= self.tenants == tenant
        if namespace:
            m &= self.namespaces == namespace
        if tags_any:
            want = set(tags_any)
            m &= np.array([bool(want.intersection(t)) for t in self.tags], dtype=bool)
        return m

    def exact(self, query, k: int, mask: np.ndarray) -> list[int]:
        """Exact top-k ids by L2 distance among rows where mask holds."""
        idx = np.nonzero(mask)[0]
        if len(idx) == 0:
            return []
        q = np.asarray(query, np.float64)
        d = ((self.vecs[idx].astype(np.float64) - q) ** 2).sum(1)
        order = np.argsort(d, kind="stable")[:k]
        return self.ids[idx[order]].tolist()

    def score(self, query, vid: int) -> float | None:
        """The engine's L2 score (negated distance) of a visible id."""
        p = self.pos.get(vid)
        if p is None:
            return None
        q = np.asarray(query, np.float64)
        return -float(np.sqrt(((self.vecs[p].astype(np.float64) - q) ** 2).sum()))


class Generator:
    """All inputs of one run, derived from one seed."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        self.centers = rng.normal(size=(N_CLUSTERS, LATENT_DIM)) * 2.0
        self.proj = rng.normal(size=(LATENT_DIM, DIM)) / np.sqrt(LATENT_DIM)
        names = [t for t, _ in BIG_TENANTS] + list(SMALL_TENANTS)
        big = [p for _, p in BIG_TENANTS]
        small = (1.0 - sum(big)) / len(SMALL_TENANTS)
        self.tenant_names = np.array(names)
        self.tenant_p = np.array(big + [small] * len(SMALL_TENANTS))
        self.next_id = 0
        self.epoch = 0
        self.model = Model()

    # -- vectors and metadata ------------------------------------------

    def vectors(self, n: int) -> np.ndarray:
        rng = self.rng
        c = rng.integers(N_CLUSTERS, size=n)
        z = self.centers[c] + rng.normal(scale=0.45, size=(n, LATENT_DIM))
        x = z @ self.proj + rng.normal(scale=0.03, size=(n, DIM))
        return x.astype(np.float32)

    def _meta(self, n: int):
        rng = self.rng
        tenants = self.tenant_names[
            rng.choice(len(self.tenant_names), size=n, p=self.tenant_p)
        ].tolist()
        namespaces = np.where(rng.random(n) < 0.5, "ns0", "ns1").tolist()
        has0 = rng.random(n) < 0.6
        extra = rng.integers(1, 3, size=n)
        other = rng.integers(1, N_TAGS, size=(n, 2))
        tags = []
        for i in range(n):
            t = [POST_TAG] if has0[i] else []
            for v in other[i, : extra[i]].tolist():
                if v not in t:
                    t.append(v)
            tags.append(t)
        return tenants, namespaces, tags

    def _epochs(self, n: int) -> np.ndarray:
        e = np.arange(self.epoch + 1, self.epoch + 1 + n, dtype=np.int64)
        self.epoch += n
        return e

    def _upserts(self, ids: np.ndarray, tenant: str | None = None) -> dict:
        n = len(ids)
        tenants, namespaces, tags = self._meta(n)
        if tenant is not None:
            tenants = [tenant] * n
        return {
            "op": ["UPSERT"] * n,
            "id": ids,
            "tenant": tenants,
            "namespace": namespaces,
            "vector": list(self.vectors(n)),
            "tags": tags,
            "epoch": self._epochs(n),
        }

    # -- op batches (each applied to the model as generated: ingest them
    #    in the order they were generated) -------------------------------

    def corpus(self, n: int) -> dict:
        """n fresh UPSERTs: the bulk load."""
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        ops = self._upserts(ids)
        self.model.apply(ops)
        return ops

    def mixed_batch(self, n: int, mix=(0.5, 0.35, 0.15), marker: bool = False) -> dict:
        """n ops: new inserts, upserts of visible ids and deletes of
        visible ids, in the given shares, each id at most once. With
        `marker`, the first op inserts a fresh id under the marker tenant:
        the batch's read-your-writes probe. Markers are never rewritten."""
        rng = self.rng
        n_ins = int(round(n * mix[0]))
        n_del = int(round(n * mix[2]))
        n_up = n - n_ins - n_del
        vis = np.array(
            [i for i, r in self.model.rows.items() if r[2] != MARKER_TENANT],
            dtype=np.int64,
        )
        chosen = vis[rng.choice(len(vis), size=min(len(vis), n_up + n_del), replace=False)]
        up_ids, del_ids = chosen[:n_up], chosen[n_up:]
        new_ids = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        parts = []
        if marker:
            parts.append(self._upserts(new_ids[:1], tenant=MARKER_TENANT))
            new_ids = new_ids[1:]
        parts.append(self._upserts(np.concatenate([new_ids, up_ids])))
        nd = len(del_ids)
        parts.append(
            {
                "op": ["DELETE"] * nd,
                "id": del_ids,
                "tenant": [None] * nd,
                "namespace": [None] * nd,
                "vector": [None] * nd,
                "tags": [None] * nd,
                "epoch": self._epochs(nd),
            }
        )
        ops = {k: [x for p in parts for x in p[k]] for k in parts[0]}
        ops["id"] = np.asarray(ops["id"], dtype=np.int64)
        ops["epoch"] = np.asarray(ops["epoch"], dtype=np.int64)
        self.model.apply(ops)
        return ops

    def queries(self, n: int) -> np.ndarray:
        """Held-out query vectors from the corpus distribution."""
        return self.vectors(n)

    def pick(self, options):
        return options[int(self.rng.integers(len(options)))]


def ops_bytes(ops: dict) -> int:
    return sum(
        row_bytes(v, t, ns, tg)
        for v, t, ns, tg in zip(ops["vector"], ops["tenant"], ops["namespace"], ops["tags"])
    )


def write_ops(ops: dict, path: str) -> str:
    """Write one op batch as a single parquet file under directory
    `path` and return the directory."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "op": pa.array(ops["op"], pa.string()),
            "id": pa.array(ops["id"], pa.int64()),
            "tenant": pa.array(ops["tenant"], pa.string()),
            "namespace": pa.array(ops["namespace"], pa.string()),
            "vector": pa.array(
                [None if v is None else np.asarray(v, np.float32) for v in ops["vector"]],
                pa.list_(pa.float32()),
            ),
            "tags": pa.array(ops["tags"], pa.list_(pa.int32())),
            "epoch": pa.array(ops["epoch"], pa.int64()),
        },
        schema=SCHEMA,
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path
