"""Pure logic of the benchmark front end: percentiles with a support rule,
the HAM last-write-wins model, the live_ingest put schedule and the result
digest. Nothing here starts a process, so the tests import it directly.
"""
import hashlib
import heapq
import itertools
import json
import math
import random

# ---------------------------------------------------------------- percentiles

MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def supported_percentile(samples, q, min_beyond=MIN_BEYOND):
    """Percentile of `samples`, a list of (value, group) pairs, or None when
    fewer than `min_beyond` distinct groups lie strictly beyond it.

    All cells of one micro-batch share one latency, so a percentile is only
    as good as the number of independent batches (groups) above it, not the
    number of cells.
    """
    if not samples:
        return None
    p = percentile([v for v, _ in samples], q)
    beyond = {g for v, g in samples if v > p}
    return p if len(beyond) >= min_beyond else None


# ------------------------------------------------------------------ LWW model

def json_bytes(value):
    """Canonical JSON bytes of a string value (HAM's tie-break key)."""
    return json.dumps(value, ensure_ascii=False, separators=(",", ":")).encode("utf-8")


def resolve(existing, incoming, sys_state):
    """HAM conflict resolution of one incoming write (FIXTURES.md section 2).

    existing: None or (value, state); incoming: (value, state).
    Returns one of: update, defer, discard, keep.
    """
    if existing is None:
        return "update"  # never seen: applied whatever its state
    ev, es = existing
    nv, ns = incoming
    if sys_state < ns:
        return "defer"
    if ns < es:
        return "discard"
    if es < ns:
        return "update"
    if ev == nv:
        return "keep"
    return "update" if json_bytes(ev) < json_bytes(nv) else "keep"


class LwwModel:
    """Per-key HAM store: writes apply in arrival order at a machine time;
    deferred writes re-apply once the machine time reaches their state."""

    def __init__(self):
        self.cells = {}
        self.deferred = []

    def put(self, key, value, state, sys_state):
        self.settle(sys_state)
        r = resolve(self.cells.get(key), (value, state), sys_state)
        if r == "update":
            self.cells[key] = (value, state)
        elif r == "defer":
            heapq.heappush(self.deferred, (state, key, value))
        return r

    def settle(self, sys_state):
        # the deferred writes are a heap: due ones re-apply in state order
        while self.deferred and self.deferred[0][0] <= sys_state:
            state, key, value = heapq.heappop(self.deferred)
            if resolve(self.cells.get(key), (value, state), sys_state) == "update":
                self.cells[key] = (value, state)

    def final(self):
        """The store once every deferred write is due."""
        self.settle(math.inf)
        return dict(self.cells)


# ----------------------------------------------------- live_ingest schedule

FIELDS = 8
SOULS = 2000
ZIPF_S = 1.1
FIELDS_PER_PUT = 2
KIND_WEIGHTS = (("new", 0.80), ("stale", 0.08), ("tie", 0.08), ("future", 0.04))


WARM_PUTS = 200


def make_schedule(seed, open_ms, rate_per_s, tail_puts, warm_puts=WARM_PUTS):
    """Puts of one live_ingest run, in send order.

    Returns (puts, subs). A put is a dict with idx, phase (warm, open or
    tail), t_ms (open loop: send time after its start), soul, state_rel,
    kind and fields. Warm-up puts go to the first set-up only and carry
    states relative to their send; the others count from the start of the
    open loop. Open-loop puts
    are evenly spaced at `rate_per_s`; their states make every HAM branch
    run: newer, stale (a minute old, discarded), equal to an earlier write
    of the same cells (tie-break) and 2-4 s in the future (deferred).
    """
    rnd = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(SOULS)))
    souls = [f"s{r}" for r in range(SOULS)]
    rnd.shuffle(souls)  # hot souls differ per seed
    kinds = [k for k, _ in KIND_WEIGHTS]
    kind_w = [w for _, w in KIND_WEIGHTS]
    last = {}  # soul -> (fields, state_rel) of its latest newer open-loop write
    puts = []
    n_open = int(open_ms / 1000.0 * rate_per_s)
    for i in range(warm_puts + n_open + tail_puts):
        soul = rnd.choices(souls, cum_weights=cum)[0]
        fields = sorted(rnd.sample(range(FIELDS), FIELDS_PER_PUT))
        t = -1.0
        if i < warm_puts:
            phase, kind, state = "warm", "new", i - 10000.0
        elif i < warm_puts + n_open:
            phase = "open"
            t = (i - warm_puts) * 1000.0 / rate_per_s
            kind = rnd.choices(kinds, kind_w)[0]
            if kind == "tie" and soul not in last:
                kind = "new"
            if kind == "new":
                state = t
            elif kind == "stale":
                state = t - 60000.0
            elif kind == "tie":
                fields, state = last[soul]
            else:
                state = t + rnd.uniform(2000.0, 4000.0)
        else:
            # a tail put is sent at or after the end of the open loop: its
            # state trails that, so the tail defers nothing
            k = i - warm_puts - n_open
            phase, kind, state = "tail", "new", open_ms - 1000.0 + k * 1000.0 / tail_puts
        state = float(round(state))
        if phase == "open" and kind == "new":
            last[soul] = (fields, state)
        puts.append({"idx": i, "phase": phase, "t_ms": t, "soul": soul, "state_rel": state,
                     "kind": kind, "fields": [f"f{f}" for f in fields]})
    hot = [(souls[r], f"f{f}") for r in range(50) for f in range(3)]
    cold = [(souls[rnd.randrange(SOULS)], f"f{rnd.randrange(FIELDS)}") for _ in range(150)]
    subs = sorted(set(hot + cold))
    return puts, subs


def write_schedule(path, puts, subs):
    with open(path, "w") as f:
        for p in puts:
            f.write("put\t%d\t%s\t%r\t%s\t%r\t%s\t%s\n" % (
                p["idx"], p["phase"], p["t_ms"], p["soul"], p["state_rel"], p["kind"],
                ",".join(p["fields"])))
        for soul, field in subs:
            f.write(f"sub\t{soul}\t{field}\n")


def expected_store(puts, sent, t0):
    """Model final state of (soul, field) after the first `sent` puts, whose
    states count from `t0`. Puts apply in send order, each at its scheduled
    machine time; the result is the converged state once every deferred
    write is due.
    """
    m = LwwModel()
    for p in puts[:sent]:
        sys_state = t0 + max(p["t_ms"], 0.0)
        for f in p["fields"]:
            m.put((p["soul"], f), f"i{p['idx']}", t0 + p["state_rel"], sys_state)
    return m.final()


# -------------------------------------------------------------- result digest

def norm(rows):
    """Row normalization of tools/parity.py: typed text values, sorted rows."""
    out = []
    for r in rows:
        rr = []
        for v in r:
            if isinstance(v, float):
                rr.append(("f", repr(v)))
            else:
                rr.append((str(type(v).__name__), str(v)))
        out.append(tuple(rr))
    out.sort()
    return out


def frame_digest(df):
    """Digest of a pandas result: lower-cased sorted column names plus the
    normalized rows, compared the way tools/parity.py compares."""
    cols = sorted(df.columns)
    rows = norm(df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(json.dumps([c.lower() for c in cols]).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)
