"""Seeded canal-json generator for the cdc_ingest workload, and the oracle
that derives the expected materialized state from the lines it wrote.

The generator is independent of the engine: it only writes text lines in
the canal-json wire format (one envelope per line, cell values as strings,
`es` in epoch milliseconds). Every choice it makes comes from its seed; the
only input that is not is the `es` stamp, which is the wall-clock time a
line was due, so lag can be measured against it.

Keys come from the TPC-H orders key space (8 of every 32 integers), drawn
with Zipf skew. Faults are mixed into both phases: byte-identical
redeliveries of recent lines, DDL lines, malformed lines, and poison rows
(an UPDATE whose image carries a non-numeric `price` cell, which the
engine's sink counts as a row error and drops).
"""
import bisect
import collections
import json
import random

DATABASE = "shop"
TABLE = "orders"
STATUSES = ("pending", "paid", "shipped", "completed", "cancelled")
POISON_PRICE = "n/a"


def order_key(i):
    """The i-th key of the TPC-H orders key space."""
    return (i // 8) * 32 + (i % 8) + 1


class Zipf:
    """Zipf-distributed draws over `n` items whose ranks are a seeded
    permutation, so the hottest keys are spread over the key space."""

    def __init__(self, n, s, rng):
        self.rng = rng
        self.items = list(range(n))
        rng.shuffle(self.items)
        total, self.cum = 0.0, []
        for r in range(n):
            total += 1.0 / (r + 1) ** s
            self.cum.append(total)

    def draw(self):
        x = self.rng.random() * self.cum[-1]
        return self.items[min(bisect.bisect_left(self.cum, x), len(self.items) - 1)]


def envelope(op, rows, old, es):
    """One canal-json line. `rows` and `old` are lists of string maps."""
    return json.dumps({
        "data": rows, "old": old, "type": op, "table": TABLE,
        "database": DATABASE, "es": es, "isDdl": False, "sql": None,
        "pkNames": ["id"]}, separators=(",", ":"))


class Generator:
    """Produces the catch-up backlog and then one batch of lines per tick.

    `lines` accumulates every line written, in write order, as
    (text, kind) with kind one of event, redelivery, poison, ddl, malformed.
    `state` is the generator's own view of the table (key -> image); the
    oracle recomputes it from `lines` alone.
    """

    def __init__(self, seed, key_space, max_rows=8, zipf_s=1.0,
                 delete_share=0.1, redeliver_share=0.02, ddl_share=0.005,
                 malformed_share=0.005, poison_share=0.005):
        self.rng = random.Random(seed)
        self.n = key_space
        self.max_rows = max_rows
        self.zipf = Zipf(key_space, zipf_s, self.rng)
        self.delete_share = delete_share
        self.faults = (("redelivery", redeliver_share), ("ddl", ddl_share),
                       ("malformed", malformed_share), ("poison", poison_share))
        self.state = {}
        self.dead = collections.deque()
        self.recent = collections.deque(maxlen=64)
        self.lines = []
        self.counts = collections.Counter()

    # -- row images -------------------------------------------------------
    def _image(self, key):
        qty = self.rng.randint(1, 50)
        return {"id": str(key), "user_id": str(self.rng.randint(1, 1500)),
                "product_id": str(self.rng.randint(1, 2000)),
                "quantity": str(qty),
                "total_price": "%.2f" % (qty * self.rng.randint(100, 99999) / 100.0),
                "status": self.rng.choice(STATUSES)}

    def _emit(self, text, kind, rows=0):
        self.lines.append((text, kind))
        self.counts[kind + "_lines"] += 1
        self.counts[kind + "_rows"] += rows
        if kind == "event":
            self.recent.append(text)
        return text

    def _fault(self, es, used):
        """Maybe one fault line, drawn before each event line."""
        x = self.rng.random()
        for kind, share in self.faults:
            if x < share:
                break
            x -= share
        else:
            return None
        if kind == "redelivery" and self.recent:
            return self._emit(self.rng.choice(self.recent), "redelivery")
        if kind == "ddl":
            return self._emit(json.dumps({
                "data": None, "old": None, "type": "ALTER", "table": TABLE,
                "database": DATABASE, "es": es, "isDdl": True,
                "sql": "ALTER TABLE orders ADD COLUMN note VARCHAR(64)",
                "pkNames": None}, separators=(",", ":")), "ddl")
        if kind == "malformed":
            whole = envelope("UPDATE", [self._image(order_key(0))], None, es)
            return self._emit(whole[:self.rng.randint(5, len(whole) // 2)], "malformed")
        if kind == "poison":
            key = self._alive_key(used)
            if key is None:
                return None
            img = dict(self.state[key], price=POISON_PRICE)
            return self._emit(envelope("UPDATE", [img], [{"price": "0.00"}], es),
                              "poison", 1)
        return None

    def _alive_key(self, used):
        for _ in range(32):
            key = order_key(self.zipf.draw())
            if key in self.state and key not in used:
                used.add(key)
                return key
        return None

    # -- phases -----------------------------------------------------------
    def backlog(self, base_ms):
        """Catch-up backlog: one INSERT per key of the key space, in
        envelopes of 1..max_rows rows; line i carries es = base_ms + i."""
        keys = [order_key(i) for i in range(self.n)]
        self.rng.shuffle(keys)
        out, i = [], 0
        while i < len(keys):
            es = base_ms + len(out)
            f = self._fault(es, set(keys[i:i + self.max_rows]))
            if f is not None:
                out.append(f)
                continue
            k = self.rng.randint(1, self.max_rows)
            rows = [self._image(key) for key in keys[i:i + k]]
            for r in rows:
                self.state[int(r["id"])] = r
            out.append(self._emit(envelope("INSERT", rows, None, es), "event", len(rows)))
            i += k
        return out

    def tick(self, due_ms, rows):
        """About `rows` event rows due at `due_ms`: UPDATEs with old images,
        DELETEs, and re-INSERTs of keys deleted in earlier ticks, so the
        state size stays flat. A key changes at most once per tick, so no
        two events of one key share an `es`."""
        used, out, reinsert = set(), [], []
        n_del = int(round(rows * self.delete_share))
        n_ins = min(n_del, len(self.dead))
        for _ in range(n_ins):
            reinsert.append(self.dead.popleft())
        used.update(reinsert)
        budget = {"DELETE": n_del, "INSERT": n_ins, "UPDATE": rows - n_del - n_ins}
        deleted = []
        while any(budget.values()):
            f = self._fault(due_ms, used)
            if f is not None:
                out.append(f)
                continue
            op = self.rng.choice([o for o, b in budget.items() if b > 0])
            k = min(self.rng.randint(1, self.max_rows), budget[op])
            if op == "INSERT":
                keys, reinsert = reinsert[:k], reinsert[k:]
            else:
                keys = [x for x in (self._alive_key(used) for _ in range(k)) if x is not None]
            budget[op] -= k
            if not keys:
                continue
            if op == "INSERT":
                rows_ = [self._image(key) for key in keys]
                old = None
            elif op == "DELETE":
                rows_ = [self.state[key] for key in keys]
                old = None
                deleted.extend(keys)
            else:
                rows_, old = [], []
                for key in keys:
                    prev = self.state[key]
                    img = dict(prev, status=self.rng.choice(STATUSES),
                               quantity=str(self.rng.randint(1, 50)))
                    rows_.append(img)
                    old.append({"status": prev["status"], "quantity": prev["quantity"]})
            for key, r in zip(keys, rows_):
                if op == "DELETE":
                    del self.state[key]
                else:
                    self.state[key] = r
            out.append(self._emit(envelope(op, rows_, old, due_ms), "event", len(rows_)))
        self.dead.extend(deleted)
        return out


def is_poison(row):
    price = row.get("price")
    if price is None:
        return False
    try:
        float(price)
        return False
    except ValueError:
        return True


def oracle(lines):
    """Expected state and counts from the wire lines alone.

    A line seen before is a redelivery and changes nothing. A line that is
    not JSON, or has no `data` array, is invalid. Every other row applies
    latest-by-`es` per key — DELETE removes the key — except poison rows,
    which the sink drops and counts as row errors.
    """
    seen, latest = set(), {}
    counts = collections.Counter()
    for text in lines:
        if text in seen:
            counts["redelivered"] += 1
            continue
        seen.add(text)
        try:
            env = json.loads(text)
        except ValueError:
            counts["invalid"] += 1
            continue
        if not isinstance(env, dict) or not isinstance(env.get("data"), list):
            counts["invalid"] += 1
            continue
        for row in env["data"]:
            counts["rows"] += 1
            if is_poison(row):
                counts["poison_rows"] += 1
                continue
            key = row["id"]
            if key not in latest or latest[key][0] <= env["es"]:
                latest[key] = (env["es"], env["type"], row)
    state = {k: row for k, (_, op, row) in latest.items() if op != "DELETE"}
    return state, counts
