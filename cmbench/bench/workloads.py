"""Seeded op generation.

A workload is a fixed cycle of op templates. An op's shape (which qp
clauses, which parent, how many paths) follows from its position in the
cycle; the seed only picks values (keys, thresholds, segment names, batch
contents) inside bands chosen so that an op's cost hardly depends on the
seed. A run executes a fixed number of whole cycles, so every run does the
same amount of work of the same mix.

Each op is one tab-separated line: id, template, arguments. Ingest ops also
write an N-Triples delta file next to the op list."""
import random

CUSTOMERS, ORDERS, PARTS, SUPPLIERS, NATIONS = 15000, 150000, 20000, 1000, 25
DOCUMENTS = 5000
DOC_SLICE = 1000  # documents per text op
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ONT = "cmwell://ont#"
SYS = "cmwell://meta/sys#"
XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
# lastModified of ingested versions: after every loaded version
INGEST_EPOCH_MS = 1735689600000  # 2025-01-01T00:00:00Z

WORKLOADS = {
    # Sub-second requests whose cost is mostly fixed per-query work. Op
    # costs fall in three clusters on 4 cores: customer searches, listings
    # and the N-Triples page (about 0.25 s), aggregations over customers
    # (about 0.35 s), and reads, orders searches and the JSON-LD page
    # (about 0.9 s). With as many ops in the first cluster as in the last,
    # the median falls in the middle of the second rather than on the edge
    # between two, where a small shift moved it by 15%.
    "interactive": ["search_customer", "agg_term", "search_orders",
                    "compound", "agg_stats", "read", "format_nt",
                    "agg_card", "search_orders", "search_customer",
                    "agg_hist", "format_jsonld"],
    # Multi-job dataflow: frontier iteration and joins from narrow (about
    # 30 paths: yg, gqp) and wide (thousands: xg) qp seeds, so AQE's
    # broadcast-vs-shuffle choice can differ within the cycle; SPARQL and
    # Gremlin; the write path (merge onto a per-run clone, read back) and
    # an ordered consume drain; then the corpus pipeline (text quality
    # signals over a slice of the documents).
    "dataflow": ["xg_wide", "yg_multi", "gqp", "sparql_chain",
                 "gremlin_path", "ingest", "consume", "text"],
}
# Seconds one cycle takes on the reference box (4 cores, sf0.1, warm);
# a run's timed phase is round(--seconds / this) cycles, at least one.
NOMINAL_CYCLE_S = {"interactive": 7.0, "dataflow": 18.0}
# Untimed cycles before the timed phase. Throughput keeps rising for many
# cycles after the first (JIT); a second warm-up cycle moves the timed
# phase off the steepest part of that curve where the run budget allows.
WARMUP_CYCLES = {"interactive": 2, "dataflow": 1}

CUSTOMER_QP = [["seg", "bal_gt"], ["should_seg", "nat_lt"],
               ["bal_le", "not_seg"], ["nat_lt", "bal_gt", "not_seg"]]
ORDERS_QP = [["status", "price_gt"], ["should_prio", "cust_le"],
             ["prio", "not_status"], ["price_gt", "cust_le", "should_prio"]]


def clause(r, kind):
    if kind.startswith("not_"):
        return "-" + clause(r, kind[4:])
    if kind.startswith("should_"):
        field, vals = (("mktsegment", SEGMENTS) if kind == "should_seg"
                       else ("orderpriority", PRIORITIES))
        return "[" + ",".join(f"*{field}::{v}" for v in r.sample(vals, 2)) + "]"
    return {
        "seg": lambda: f"mktsegment::{r.choice(SEGMENTS)}",
        "bal_gt": lambda: f"acctbal>{r.uniform(-1000, 5000):.2f}",
        "bal_le": lambda: f"acctbal<<{r.uniform(2000, 9999):.2f}",
        "nat_lt": lambda: f"nationkey<{r.randrange(5, NATIONS)}",
        "status": lambda: f"orderstatus::{r.choice(STATUSES)}",
        "prio": lambda: f"orderpriority::{r.choice(PRIORITIES)}",
        "price_gt": lambda: f"totalprice>{r.uniform(1000, 300000):.2f}",
        "cust_le": lambda: f"custkey<<{r.randrange(3000, CUSTOMERS)}",
    }[kind]()


def gen_qp(r, table, pos):
    shapes = CUSTOMER_QP if table == "customer" else ORDERS_QP
    return ",".join(clause(r, k) for k in shapes[pos % len(shapes)])


def search_args(r, table, pos):
    sort = "acctbal" if table == "customer" else "totalprice"
    if pos % 2:
        sort = "-" + sort
    return [f"/{table}", gen_qp(r, table, pos), sort,
            str(r.randrange(0, 1001)), "10"]


def random_paths(r, n):
    """Paths uniform over the customer/orders/part/supplier keys, drawn
    stratified: each parent gets its share of the n paths (largest
    remainder) and keys are uniform within it. A read that touches
    /customer takes about 0.95 s against 0.25 s without, so drawing the
    parent of each path from the seed made the op's cost a coin toss."""
    spaces = [("customer", CUSTOMERS), ("orders", ORDERS), ("part", PARTS),
              ("supplier", SUPPLIERS)]
    total = sum(s for _, s in spaces)
    quotas = [n * s / total for _, s in spaces]
    counts = [int(q) for q in quotas]
    by_remainder = sorted(range(len(spaces)),
                          key=lambda i: counts[i] - quotas[i])
    for i in by_remainder[:n - sum(counts)]:
        counts[i] += 1
    return [f"/{t}/{k}" for (t, s), c in zip(spaces, counts)
            for k in r.sample(range(s), c)]


class Gen:
    """Generates ops for one workload. Customers written by ingest ops are
    drawn without replacement, so every ingest op touches paths no other op
    of the run touches and its read-back depends on its own batch only."""

    def __init__(self, workload, seed):
        self.r = random.Random(f"{workload}:{seed}")
        self.seed = seed
        self.fresh_customers = list(range(CUSTOMERS))
        self.r.shuffle(self.fresh_customers)
        self.files = {}

    def op(self, oid, kind, pos):
        r = self.r
        if kind == "read":
            # more than 10 paths, so the IN list always plans as an InSet
            return ["read", ",".join(random_paths(r, r.randint(11, 20)))]
        if kind in ("search_customer", "search_orders"):
            return ["search"] + search_args(r, kind.split("_")[1], pos)
        if kind == "agg_term":
            return ["agg", "/customer", gen_qp(r, "customer", pos), "term",
                    "mktsegment", "10"]
        if kind == "agg_stats":
            return ["agg", "/customer", gen_qp(r, "customer", pos), "stats",
                    "acctbal", "0"]
        if kind == "agg_hist":
            return ["agg", "/customer", gen_qp(r, "customer", pos), "hist",
                    "acctbal", "1000"]
        if kind == "agg_card":
            return ["agg", "/customer", gen_qp(r, "customer", pos), "card",
                    "nationkey", "0"]
        if kind == "compound":
            parent = ["/customer", "/part"][pos % 2]
            return ["compound", parent, str(r.randrange(0, 1001)),
                    str(r.randint(10, 100))]
        if kind == "format_jsonld":
            return ["format", "jsonld"] + search_args(r, "orders", pos)
        if kind == "format_nt":
            keys = r.sample(range(CUSTOMERS), 10)
            return ["format", "nt", ",".join(f"/customer/{k}" for k in keys)]
        if kind == "xg_wide":
            # about 5.5 thousand orders, then customers, then nations
            return ["xg", "/orders",
                    f"orderstatus::{r.choice(STATUSES)},"
                    f"totalprice>{r.uniform(444500, 445500):.2f}",
                    "refCustomer>refNation"]
        if kind in ("yg_multi", "gqp"):
            # from about 30 customers: yg reaches their orders and their
            # nation, gqp keeps those that have an order. A filter on a hop
            # scans the whole store and would triple the op's cost.
            return [kind.split("_")[0], "/customer",
                    f"mktsegment::{r.choice(SEGMENTS)},"
                    f"acctbal>{r.uniform(9850, 9950):.2f}",
                    "<refCustomer|>refNation" if kind == "yg_multi"
                    else "<refCustomer"]
        if kind == "text":
            lo = r.randrange(DOCUMENTS - DOC_SLICE + 1)
            return ["text", str(lo), str(lo + DOC_SLICE)]
        if kind == "sparql_chain":
            return ["sparql",
                    f"PREFIX ont: <{ONT}> SELECT ?l ?c WHERE {{ "
                    f"?l ont:refOrders ?o . ?o ont:refCustomer ?c . "
                    f"?l ont:quantity ?q . FILTER (?q > 49) }} ORDER BY ?l ?c"]
        if kind == "gremlin_path":
            return ["gremlin", f'g.v("/orders/{r.randrange(ORDERS)}")'
                               f'.out("refCustomer").out("refNation").path']
        if kind == "ingest":
            return self.ingest(oid)
        if kind == "consume":
            # about 4.6 thousand events: two chunks of 3000
            return ["consume", "/user",
                    f"event_type::{r.choice(EVENT_TYPES)},"
                    f"value>{r.uniform(79.5, 80.5):.2f}", "3000"]
        raise ValueError(kind)

    def ingest(self, oid):
        """A delta of updates to existing customers, new subjects under a new
        parent, and a few deletes of existing customers. It leaves /orders
        alone: any order update rewrites that 150k-row partition, which
        would double the op's cost and the run's length."""
        r = self.r
        lines, touched = [], []
        for _ in range(40):
            k = self.fresh_customers.pop()
            s = f"<cmwell://customer/{k}>"
            lines.append(f"{s} <{SYS}markReplace> <{ONT}acctbal> .")
            lines.append(f'{s} <{ONT}acctbal> "{r.uniform(-999, 9999):.2f}"'
                         f"^^<{XSD_DOUBLE}> .")
            touched.append(f"/customer/{k}")
        parent = f"/benchnew/s{self.seed}/op{oid}"
        for i in range(10):
            s = f"<cmwell:/{parent}/n{i}>"
            lines.append(f'{s} <{ONT}name> "new {oid}-{i}" .')
            lines.append(f'{s} <{ONT}acctbal> "{r.uniform(0, 1000):.2f}"'
                         f"^^<{XSD_DOUBLE}> .")
            touched.append(f"{parent}/n{i}")
        for _ in range(3):
            k = self.fresh_customers.pop()
            lines.append(f'<cmwell://customer/{k}> <{SYS}fullDelete> "true" .')
            touched.append(f"/customer/{k}")
        name = f"delta{oid}.nt"
        self.files[name] = "\n".join(lines) + "\n"
        return ["ingest", name, str(INGEST_EPOCH_MS + oid * 1000),
                ",".join(touched)]


def timed_cycles(workload, seconds):
    return max(1, round(seconds / NOMINAL_CYCLE_S[workload]))


def generate(workload, seed, cycles):
    """Returns (warm-up ops, timed ops, delta files). Ops are lists
    [id, template, args...]; warm-up ops come from the same generator, so
    they are different ops of the same templates."""
    g = Gen(workload, seed)
    templates = WORKLOADS[workload]
    warmup_cycles = WARMUP_CYCLES[workload]
    ops = []
    for _ in range(warmup_cycles + cycles):
        for pos, t in enumerate(templates):
            oid = len(ops)
            ops.append([oid] + g.op(oid, t, pos))
    cut = warmup_cycles * len(templates)
    return ops[:cut], ops[cut:], g.files


def write_ops(path, ops):
    with open(path, "w") as f:
        for o in ops:
            f.write("\t".join(str(x) for x in o) + "\n")
