"""Seeded input generators and independent expected-state models.

Everything the benchmark feeds graft is made here from ``--seed``; the
same seed gives byte-identical inputs. The expected states that the
correctness checks compare against are computed here too, in plain
Python, without calling graft or Spark.
"""
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Registry tables (the star schema + events, documents, embeddings that the
# query registry reads). Shapes and value domains follow the repository's
# testdata: uniform keys, fixed small vocabularies, 5% near-duplicate docs.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(out, sf, seed):
    """Write the ten registry tables at scale ``sf`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})
    # events: strictly increasing distinct µs timestamps over 30 days
    ts = np.sort(rng.choice(30 * DAY_US, n_ev, replace=False)) + \
        1_704_067_200_000_000  # 2024-01-01
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # 5% near-dups
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    e = rng.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def family(name):
    """Registry family of a query: its name prefix, TPC-H numbers grouped."""
    head = name.split("_", 1)[0]
    if head[0] == "q" and head[1:].isdigit():
        return "tpch"
    return head


def sample_registry(names, seed, size):
    """Stratified sample of about ``size`` query names: each family keeps
    its share of the registry (largest remainder, at least one each),
    taken at evenly spaced positions of the family's sorted names. The
    composition does not depend on the seed, so runs on different seeds
    time the same queries; the seed permutes the run order."""
    fams = {}
    for n in sorted(names):
        fams.setdefault(family(n), []).append(n)
    total = len(names)
    quota = {f: max(1, int(size * len(v) / total)) for f, v in fams.items()}
    rest = sorted(fams, key=lambda f: -(size * len(fams[f]) / total - quota[f]))
    i = 0
    while sum(quota.values()) < size:
        quota[rest[i % len(rest)]] += 1
        i += 1
    picked = []
    for f in sorted(fams):
        k = min(quota[f], len(fams[f]))
        picked += [fams[f][int((j + 0.5) * len(fams[f]) / k)] for j in range(k)]
    rng = np.random.default_rng([seed, 2])
    return [picked[j] for j in rng.permutation(len(picked))]


# ---------------------------------------------------------------------------
# Row hashing shared by the keyed-table checks: a row's canonical text is
# its values in column order (floats by repr, NULL as \N); the table hash
# is the sum of the rows' 64-bit blake2b digests, so row order is free.

def row_hash(rows):
    h, n = 0, 0
    for r in rows:
        txt = "\x1f".join("\\N" if v is None else repr(v) if isinstance(v, float)
                          else str(v) for v in r)
        h = (h + struct.unpack("<Q", hashlib.blake2b(
            txt.encode(), digest_size=8).digest())[0]) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{h:016x}"


# ---------------------------------------------------------------------------
# The ETL half of sync_stream: two source entities shaped like the
# reference's voucher (orders) and voucher_transaction (lineitem) tables,
# with dirty string columns. The source is append-only: a base snapshot
# plus, per cycle, the new versions of the changed rows; the per-cycle
# changelog names the changed order keys.

DIRTY_DATE_BAD = ["N/A", ""]


def _dirty_case(rng, vals):
    """Random padding and case on clean upper-case strings."""
    out = []
    for v in vals:
        r = rng.random()
        out.append(v.lower() if r < 0.3 else f" {v} " if r < 0.5 else
                   f"{v.title()}  " if r < 0.6 else v)
    return out


def _dirty_num(rng, vals):
    out = []
    for v in vals:
        r = rng.random()
        out.append("N/A" if r < 0.03 else "0" if r < 0.05 else f"{v:.2f}")
    return out


def _dirty_date(rng, days):
    out = []
    for d in days:
        r = rng.random()
        s = str(np.datetime64("1995-01-01") + np.timedelta64(int(d), "D"))
        out.append(DIRTY_DATE_BAD[int(r * 100) % 2] if r < 0.04 else
                   s + " 13:45:00" if r < 0.3 else s)
    return out


def _clean_upper_trim(s):
    return None if s is None else s.strip(" ").upper()


def _clean_enum(s, allowed):
    u = _clean_upper_trim(s)
    return u if u in allowed else None


def _clean_num(s):
    try:
        d = float(s)
    except (TypeError, ValueError):
        return None
    return None if d == 0.0 else d


def _clean_date(s):
    if s is None or len(s.strip()) < 10 or not s.strip()[:4].isdigit():
        return None
    return s.strip()[:10]


def _clean_flag01(s):
    return "1" if s == "1" else "0"


def _clean_bool01(s):
    return 1 if s is not None and s.strip().lower() in ("t", "true", "y", "yes", "1") else 0


class EtlGen:
    """Source snapshots, cycle deltas and changelogs of the ETL half."""

    def __init__(self, seed, n_orders, change_frac=0.02, cycles=30):
        self.seed, self.n, self.frac, self.cycles = seed, n_orders, change_frac, cycles
        self.next_key = n_orders

    # -- dirty source rows -------------------------------------------------
    def _vouchers(self, rng, keys, cust, version):
        n = len(keys)
        return {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(cust, pa.int64()),
            "version": pa.array([version] * n, pa.int64()),
            "o_name": [f"customer#{c:06d} " if c is not None else "" for c in cust],
            "o_orderstatus": _dirty_case(rng, np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_orderpriority": [p if rng.random() > 0.03 else "URGENT!" for p in
                                _dirty_case(rng, np.array(PRIORITIES)[rng.integers(0, 5, n)])],
            "o_totalprice": _dirty_num(rng, _money(rng, 1000, 500000, n)),
            "o_orderdate": _dirty_date(rng, rng.integers(0, 2405, n))}

    def _txs(self, rng, okeys, lines, version):
        n = len(okeys)
        return {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_linenumber": pa.array(lines, pa.int32()),
            "version": pa.array([version] * n, pa.int64()),
            "l_partkey": rng.integers(0, 200_000, n).astype(np.int64),
            "l_quantity": _dirty_num(rng, rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": _dirty_num(rng, _money(rng, 900, 105000, n)),
            "l_discount": _dirty_num(rng, rng.integers(0, 11, n) / 100.0),
            "l_returnflag": [f if rng.random() > 0.03 else "X" for f in
                             _dirty_case(rng, np.array(["A", "N", "R"])[rng.integers(0, 3, n)])],
            "l_linestatus": _dirty_case(rng, np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _dirty_date(rng, rng.integers(1, 2500, n)),
            "l_payout": np.array(["1", "0", "1 ", "yes"])[rng.integers(0, 4, n)],
            "l_active": np.array(["1", "0", "true", "false", "yes", "no", ""])[rng.integers(0, 7, n)]}

    def _lines_of(self, rng, okeys):
        counts = rng.integers(1, 8, len(okeys))
        ok = np.repeat(okeys, counts)
        ln = np.concatenate([np.arange(1, c + 1) for c in counts]) if len(okeys) else np.array([], int)
        return ok, ln

    def write(self, root):
        """Write base source, per-cycle deltas and changelogs under root."""
        rng = np.random.default_rng([self.seed, 3])
        keys = np.arange(self.n, dtype=np.int64)
        self.cust = {int(k): int(c) for k, c in zip(keys, rng.integers(0, 15000, self.n))}
        os.makedirs(f"{root}/voucher_base", exist_ok=True)
        os.makedirs(f"{root}/voucher_transaction_base", exist_ok=True)
        v = self._vouchers(rng, keys, [self.cust[int(k)] for k in keys], 0)
        pq.write_table(pa.table(v), f"{root}/voucher_base/part-0.parquet")
        ok, ln = self._lines_of(rng, keys)
        t = self._txs(rng, ok, ln, 0)
        pq.write_table(pa.table(t), f"{root}/voucher_transaction_base/part-0.parquet")
        self.source = {"voucher": [pa.table(v)], "voucher_transaction": [pa.table(t)]}
        self.logs = []
        live = list(keys)
        for c in range(1, self.cycles + 1):
            n_chg = max(1, int(self.n * self.frac))
            chg = rng.choice(np.array(live), n_chg, replace=False)
            new = np.arange(self.next_key, self.next_key + max(1, n_chg // 10), dtype=np.int64)
            self.next_key += len(new)
            for k in new:
                self.cust[int(k)] = int(rng.integers(0, 15000))
            live += list(new)
            vk = np.concatenate([chg, new])
            cust = [self.cust[int(k)] for k in vk]
            bad_v = rng.choice(len(vk), 2, replace=False)  # NULL-key injections
            cust = [None if i in bad_v else x for i, x in enumerate(cust)]
            vt = self._vouchers(rng, vk, cust, c)
            tx_orders = np.concatenate([chg[rng.random(len(chg)) < 0.5], new])
            tok, tln = self._lines_of(rng, tx_orders)
            bad_t = set(rng.choice(len(tok), min(len(tok), 4), replace=False).tolist())
            tln = [None if i in bad_t else int(x) for i, x in enumerate(tln)]
            tt = self._txs(rng, tok, tln, c)
            d = f"{root}/cycle_{c:04d}"
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.table(vt), f"{d}/voucher.parquet")
            pq.write_table(pa.table(tt), f"{d}/voucher_transaction.parquet")
            log_keys = [("voucher", str(k)) for k in vk] + \
                [("voucher_transaction", str(k)) for k in np.unique(tx_orders)]
            log_keys += [("voucher", None), ("voucher_transaction", None)]
            order = rng.permutation(len(log_keys))
            log = pa.table({"tbl": [log_keys[i][0] for i in order],
                            "ref_no": [log_keys[i][1] for i in order]})
            pq.write_table(log, f"{d}/changelog.parquet")
            self.source["voucher"].append(pa.table(vt))
            self.source["voucher_transaction"].append(pa.table(tt))
            self.logs.append(log)

    # -- independent model of the pipeline ---------------------------------
    @staticmethod
    def clean_voucher(r):
        return (r["o_orderkey"], r["o_custkey"], r["version"],
                _clean_upper_trim(r["o_name"]),
                _clean_upper_trim(r["o_orderstatus"]),
                _clean_enum(r["o_orderpriority"], PRIORITIES),
                _clean_num(r["o_totalprice"]), _clean_date(r["o_orderdate"]))

    @staticmethod
    def clean_tx(r):
        return (r["l_orderkey"], r["l_linenumber"], r["version"], r["l_partkey"],
                _clean_num(r["l_quantity"]), _clean_num(r["l_extendedprice"]),
                _clean_num(r["l_discount"]), _clean_enum(r["l_returnflag"], ["A", "N", "R"]),
                _clean_upper_trim(r["l_linestatus"]), _clean_date(r["l_shipdate"]),
                _clean_flag01(r["l_payout"]), _clean_bool01(r["l_active"]))

    def expected(self, cycles_done):
        """Final tables and per-cycle (extracted, skipped) row counts after
        ``cycles_done`` cycles, modelled row by row."""
        spec = {"voucher": ("o_orderkey", self.clean_voucher, 2),
                "voucher_transaction": ("l_orderkey", self.clean_tx, 2)}
        tables, per_cycle = {}, []
        for ent, (okcol, clean, nkey) in spec.items():
            state = {}
            base = self.source[ent][0].to_pylist()
            for r in base:
                row = clean(r)
                if None not in row[:nkey]:
                    state[row[:nkey]] = row
            tables[ent] = state
        by_order = {ent: {} for ent in spec}
        for ent in spec:
            for r in self.source[ent][0].to_pylist():
                by_order[ent].setdefault(r[spec[ent][0]], []).append(r)
        for c in range(1, cycles_done + 1):
            stats = {}
            for ent, (okcol, clean, nkey) in spec.items():
                for r in self.source[ent][c].to_pylist():
                    by_order[ent].setdefault(r[okcol], []).append(r)
                log = self.logs[c - 1].to_pylist()
                keys = {int(x["ref_no"]) for x in log if x["tbl"] == ent and x["ref_no"] is not None}
                extracted = [r for k in keys for r in by_order[ent].get(k, [])]
                cleaned = [clean(r) for r in extracted]
                valid = [x for x in cleaned if None not in x[:nkey]]
                best = {}
                for x in valid:
                    if x[:nkey] not in best or x[2] > best[x[:nkey]][2]:
                        best[x[:nkey]] = x
                tables[ent].update(best)
                stats[ent] = (len(extracted), len(cleaned) - len(valid))
            per_cycle.append(stats)
        return tables, per_cycle


# ---------------------------------------------------------------------------
# The CDC half of sync_stream: a lineitem-shaped keyed table and
# micro-batches of upserts and deletes. Keys skew toward recent orders; some
# keys change twice within a batch, the higher version winning.

class CdcGen:
    """Initial table, change batches and lookup keys for the CDC stream."""

    def __init__(self, seed, n_orders, batch_size=24, batches=60, lookups=2):
        self.seed, self.n, self.size, self.batches = seed, n_orders, batch_size, batches
        self.lookups = lookups

    def write(self, root):
        rng = np.random.default_rng([self.seed, 4])
        counts = rng.integers(1, 8, self.n)
        ok = np.repeat(np.arange(self.n, dtype=np.int64), counts)
        ln = np.concatenate([np.arange(1, c + 1) for c in counts]).astype(np.int32)
        m = len(ok)
        init = pa.table({
            "l_orderkey": ok, "l_linenumber": ln,
            "version": np.zeros(m, dtype=np.int64),
            "l_partkey": rng.integers(0, 200_000, m).astype(np.int64),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, m),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)]})
        os.makedirs(f"{root}/initial", exist_ok=True)
        pq.write_table(init, f"{root}/initial/part-0.parquet")
        self.init = init
        version = 1
        lines, looks = [], []
        self.batch_rows = []
        next_order = self.n
        for b in range(self.batches):
            rows = []
            for _ in range(self.size):
                r = rng.random()
                if r < 0.15:  # insert a line of a new order
                    k = (next_order, 1)
                    next_order += 1
                    change = "insert"
                else:  # skewed toward recent orders: u^4 concentrates near n
                    o = int(next_order - 1 - int(next_order * rng.random() ** 4))
                    k = (o, int(rng.integers(1, 8)))
                    change = "delete" if r < 0.30 else "update"
                rows.append((k, change))
            for _ in range(self.size // 6):  # repeats within the batch
                k, _c = rows[int(rng.integers(0, len(rows)))]
                rows.append((k, "update" if rng.random() < 0.7 else "delete"))
            batch = []
            for (o, l), change in rows:
                batch.append((o, l, version, change, int(rng.integers(0, 200_000)),
                              float(rng.integers(1, 51)),
                              float(_money(rng, 900, 105000, 1)[0]),
                              ["A", "N", "R"][int(rng.integers(0, 3))]))
                version += 1
            self.batch_rows.append(batch)
            lines += [f"{b}\t" + "\t".join(str(v) for v in row) for row in batch]
            keys = sorted({k for k, _c in rows})
            for i in rng.choice(len(keys), self.lookups, replace=False):
                looks.append(f"{b}\t{keys[i][0]}\t{keys[i][1]}")
        with open(f"{root}/batches.tsv", "w") as f:
            f.write("\n".join(lines) + "\n")
        with open(f"{root}/lookups.tsv", "w") as f:
            f.write("\n".join(looks) + "\n")

    def states(self):
        """Yield the expected table after each batch (key -> row tuple)."""
        state = {(r["l_orderkey"], r["l_linenumber"]): (
            r["l_orderkey"], r["l_linenumber"], r["version"], r["l_partkey"],
            r["l_quantity"], r["l_extendedprice"], r["l_returnflag"])
            for r in self.init.to_pylist()}
        for batch in self.batch_rows:
            win = {}
            for row in batch:
                k = (row[0], row[1])
                if k not in win or row[2] > win[k][2]:
                    win[k] = row
            for k, row in win.items():
                if row[3] == "delete":
                    state.pop(k, None)
                else:
                    state[k] = (row[0], row[1], row[2], row[4], row[5], row[6], row[7])
            yield state
