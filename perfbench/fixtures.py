"""Seeded input generators for the benchmark workloads.

Every table and change stream is a pure function of the numpy
Generator it is given, so one ``--seed`` gives one set of inputs.
Table shapes, row counts and value domains follow the repository's
sf0.1 TPC-H-style fixture (customer 15k, orders 150k, lineitem about
600k, documents 5k, embeddings 2k x 64), so registered queries and
their DuckDB oracles run on the generated lake unchanged.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "the a spark table join order sort merge filter scan hash key row "
    "column data batch stream window group agg query part line customer "
    "value vector big small fast slow"
).split()
_DAY_US = 86_400_000_000

# The lineitem CDC mirror: TPC-H lineitem projected to its key and two
# payload columns.
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
LINEITEM_COLS = LINEITEM_KEYS + ["l_quantity", "l_extendedprice"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), size=n)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def customer(rng: np.random.Generator) -> pa.Table:
    n = N_CUSTOMER
    return pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    """orders and lineitem together: 1-7 lines per order (about 600k
    lines), shipdate 1-120 days after the order date."""
    n = N_ORDERS
    base = np.datetime64("1995-01-01", "us").astype("int64")
    odate = base + rng.integers(0, 2400, size=n) * _DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, size=n).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(800.0, 450000.0, size=n), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    per = rng.integers(1, 8, size=n)
    m = int(per.sum())
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, size=m).astype("float64")
    lineitem = pa.table({
        "l_orderkey": np.repeat(np.arange(n, dtype="int64"), per),
        "l_partkey": rng.integers(0, N_PART, size=m).astype("int64"),
        "l_suppkey": rng.integers(0, N_SUPPLIER, size=m).astype("int64"),
        "l_linenumber": pa.array((np.arange(m) - starts + 1).astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 1100.0, size=m), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, size=m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, size=m), 2),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[
            rng.choice(3, size=m, p=[0.25, 0.5, 0.25])]),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts(np.repeat(odate, per)
                          + rng.integers(1, 121, size=m) * _DAY_US),
    })
    return orders, lineitem


def dimension_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    ns, npart = N_SUPPLIER, N_PART
    adj = np.asarray(["cold", "small", "large", "fast", "slow", "hot"])
    noun = np.asarray(["widget", "gadget", "gear", "bolt", "plate", "tube"])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=ns).astype("int32")),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=ns), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": pa.array(np.char.add(np.char.add(
                adj[rng.integers(0, 6, size=npart)], " "),
                noun[rng.integers(0, 6, size=npart)])),
            "p_brand": pa.array(np.char.add(
                "Brand#", rng.integers(1, 26, size=npart).astype(str))),
            "p_type": _pick(rng, _PTYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, size=npart).astype("int32")),
            "p_retailprice": np.round(rng.uniform(900.0, 2100.0, size=npart), 2),
        }),
    }


def documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents of 10-99 words; 1% exact and 1% near
    duplicates (one word replaced) give the dedup queries work."""
    n = N_DOCUMENTS
    vocab = np.asarray(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=int(k))])
             for k in rng.integers(10, 100, size=n)]
    k = n // 100
    src = rng.choice(n // 2, size=2 * k, replace=False)
    dst = n // 2 + rng.choice(n - n // 2, size=2 * k, replace=False)
    for j in range(2 * k):
        words = texts[int(src[j])].split(" ")
        if j >= k:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts[int(dst[j])] = " ".join(words)
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(rng: np.random.Generator) -> pa.Table:
    n = N_EMBEDDINGS
    emb = rng.normal(0.0, 0.125, size=(n, EMBED_DIM)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype("int32")),
    })


# Tables generated together, each group from its own random stream.
_GROUPS = [
    (("customer",), lambda rng: (customer(rng),)),
    (("orders", "lineitem"), orders_lineitem),
    (("region", "nation", "supplier", "part"),
     lambda rng: tuple(dimension_tables(rng).values())),
    (("documents",), lambda rng: (documents(rng),)),
    (("embeddings",), lambda rng: (embeddings(rng),)),
]


def generate(seed: int, names: list[str]) -> dict[str, pa.Table]:
    """The named lake tables for ``seed``. Each group of tables draws
    from its own stream ``default_rng([seed, group index])``, so a
    table's content does not depend on which others were asked for."""
    unknown = set(names) - {t for group, _ in _GROUPS for t in group}
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")
    out: dict[str, pa.Table] = {}
    for i, (group, make) in enumerate(_GROUPS):
        if set(group) & set(names):
            tables = dict(zip(group, make(np.random.default_rng([seed, i]))))
            out.update({n: tables[n] for n in group if n in names})
    return out


def write_lake(seed: int, out_dir: str, names: list[str]) -> dict[str, pa.Table]:
    """``generate`` the named tables and write ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate(seed, names)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# --- change streams -----------------------------------------------------


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class CustomerChanges:
    """Change events over the streaming pipeline's ``(k, name, bal)``
    mirror: key popularity is Zipf-skewed over the initial keys, so hot
    keys repeat within a file; inserts take fresh keys above the
    snapshot. Events for one key are generated in order against the
    live key set, so an update or delete always names a live key."""

    def __init__(self, rng: np.random.Generator, initial: dict[int, tuple]):
        self.rng = rng
        self.live = set(initial)
        self.next_key = max(initial) + 1
        self.hot = rng.permutation(np.fromiter(initial, dtype="int64"))
        self.p = zipf_weights(len(self.hot))
        self.off = 0

    def _live_key(self) -> int:
        for r in self.rng.choice(len(self.hot), size=32, p=self.p):
            k = int(self.hot[r])
            if k in self.live:
                return k
        return int(self.rng.choice(sorted(self.live)))

    def batch(self, n: int, ts_ms: int,
              mix: tuple[float, float, float] = (0.70, 0.15, 0.15)
              ) -> list[dict]:
        """``n`` events (update, delete, insert shares in ``mix``)
        stamped ``ts_ms`` with increasing offsets."""
        ops = self.rng.choice(["u", "d", "c"], size=n, p=list(mix))
        out = []
        for op in ops:
            if op == "c":
                k = self.next_key
                self.next_key += 1
                self.live.add(k)
            else:
                k = self._live_key()
                if op == "d":
                    self.live.discard(k)
            bal = round(float(self.rng.uniform(-999.99, 9999.99)), 2)
            out.append({"k": k, "name": None if op == "d" else f"name_{k}_{self.off}",
                        "bal": None if op == "d" else bal,
                        "op": str(op), "ts_ms": ts_ms, "off": self.off})
            self.off += 1
        return out


def envelope_record(ev: dict) -> dict:
    """One stream input record in the Debezium envelope shape that
    ``cdc.envelope.encode_envelope`` produces: ``{key, value}`` with the
    envelope JSON as ``value``."""
    op = ev["op"]
    after = None if op == "d" else {"k": ev["k"], "name": ev["name"], "bal": ev["bal"]}
    before = {"k": ev["k"], "name": None, "bal": None} if op in ("u", "d") else None
    env = {"before": before, "after": after,
           "source": {"db": "commerce_db", "schema": "commerce", "table": "account",
                      "lsn": ev["off"], "ts_ms": ev["ts_ms"], "snapshot": "false"},
           "op": op, "ts_ms": ev["ts_ms"]}
    return {"key": ev["k"], "value": json.dumps(env)}


def malformed_record(rng: np.random.Generator, key: int) -> dict:
    """A record whose value is truncated JSON: envelope decode yields a
    NULL ``op`` and the pipeline must route it to the dead-letter queue."""
    return {"key": key, "value": '{"before": null, "after": {"k": %d, "na' % key
            + "x" * int(rng.integers(0, 8))}


def write_json_lines(path: str, records: list[dict]) -> int:
    """Write records as JSON lines via tmp file + atomic rename (the
    file source must never list a half-written file). Returns bytes."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, path)
    return os.path.getsize(path)


class LineitemChanges:
    """Change batches over the lineitem mirror. A batch of ``n`` events
    has n/4 inserts of new order lines and n/4 deletes of distinct live
    keys, so the mirror size stays put; the rest are updates of distinct
    live keys, n/10 of which get a second update in the same batch."""

    def __init__(self, rng: np.random.Generator, lineitem: pa.Table):
        self.rng = rng
        ok = lineitem.column("l_orderkey").to_numpy()
        ln = lineitem.column("l_linenumber").to_numpy().astype("int64")
        self.live = ok * 8 + ln  # linenumber <= 7 fits in 3 bits
        self.next_order = int(ok.max()) + 1
        self.off = 0

    def batch(self, n: int, ts_ms: int) -> pa.Table:
        rng = self.rng
        n_ins = n_del = n // 4
        n_again = n // 10
        n_upd = n - n_ins - n_del - n_again
        idx = rng.choice(len(self.live), size=n_del + n_upd, replace=False)
        deleted, updated = self.live[idx[:n_del]], self.live[idx[n_del:]]
        again = updated[rng.choice(n_upd, size=n_again, replace=False)]
        new_keys = ((self.next_order + np.arange(n_ins) // 4) * 8
                    + np.arange(n_ins) % 4 + 1)
        self.next_order += (n_ins + 3) // 4
        self.live = np.concatenate([np.delete(self.live, idx[:n_del]), new_keys])
        keys = np.concatenate([deleted, updated, again, new_keys])
        ops = np.repeat(np.array(["d", "u", "u", "c"]), [n_del, n_upd, n_again, n_ins])
        qty = rng.integers(1, 51, size=n).astype("float64")
        price = np.round(qty * rng.uniform(900.0, 1100.0, size=n), 2)
        dead = ops == "d"
        offs = self.off + np.arange(n, dtype="int64")
        self.off += n
        return pa.table({
            "l_orderkey": keys // 8,
            "l_linenumber": pa.array((keys % 8).astype("int32")),
            "l_quantity": pa.array(qty, mask=dead),
            "l_extendedprice": pa.array(price, mask=dead),
            "op": pa.array(ops),
            "ts_ms": np.full(n, ts_ms, dtype="int64"),
            "off": offs,
        })
