"""Workload generator: turns (workload, seed) into the operations the
benchmark sends. The system under test only ever sees these generated
inputs. The same seed gives the same plan; another seed gives other texts
with the same template, user and encoding proportions, so runs on
different seeds measure the same mix.
"""
import datetime
import random

WORKLOADS = ("serve-churn", "suite-batch")

# Each template is one entity; every text is deterministic to answer
# (ORDER BY over a unique key, or GROUP BY keys) so the oracle can check it.
# In the sf0.1 data (orderkey, linenumber) repeats; adding extendedprice
# makes the lineitem sort key unique.
TEMPLATES = {
    # federated lineitem (two leaves in-process, apac over loopback HTTP)
    # alternates with single-site entities owned by global
    "li_topn": ("lineitem",
                "SELECT orderkey, linenumber, quantity, extendedprice, shipdate "
                "FROM lineitem WHERE shipdate >= DATE '{d}' AND quantity > {q} "
                "ORDER BY orderkey, linenumber, extendedprice LIMIT {n}"),
    "orders": ("orders",
               "SELECT orderkey, custkey, totalprice, orderdate FROM orders "
               "WHERE orderdate >= DATE '{d}' AND orderdate < DATE '{d2}' "
               "AND orderpriority = '{p}' ORDER BY orderkey LIMIT {n}"),
    "li_q1": ("lineitem",
              "SELECT returnflag, linestatus, sum(quantity) AS sum_qty, "
              "sum(extendedprice) AS sum_base_price, "
              "avg(discount_percent) AS avg_disc, count(*) AS count_order "
              "FROM lineitem WHERE shipdate <= DATE '{d}' AND discount_percent <= {dp} "
              "GROUP BY returnflag, linestatus ORDER BY returnflag, linestatus"),
    "customer": ("customer",
                 "SELECT mktsegment, count(*) AS n, sum(acctbal) AS bal "
                 "FROM customer WHERE nationkey = {nk} AND acctbal > {a} "
                 "GROUP BY mktsegment ORDER BY mktsegment"),
    "li_wide": ("lineitem",
                "SELECT * FROM lineitem WHERE orderkey > {k} "
                "ORDER BY orderkey, linenumber, extendedprice LIMIT 10000"),
    "documents": ("documents",
                  "SELECT lang, count(*) AS docs, sum(n_chars) AS chars "
                  "FROM documents WHERE doc_id >= {lo} AND doc_id < {hi} "
                  "GROUP BY lang ORDER BY lang"),
    "telemetry": ("telemetry",
                  "SELECT event_type, count(*) AS n, sum(k) AS sk FROM telemetry "
                  "WHERE k > {k} AND event_id < {e} "
                  "GROUP BY event_type ORDER BY event_type"),
}
TEMPLATE_NAMES = tuple(TEMPLATES)
# admin sees everything; no user and an unknown user get the default ACL
USERS = ("admin", None, "mallory")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

APPLY_EVERY = 2
# set-ups per run; setup_s is their median. Two, not more: set-up is most
# of a run's wall time, and the runs of a comparison must fit one hour
SETUPS = 2


def _date(rng, lo, hi):
    d0 = datetime.date.fromisoformat(lo)
    span = (datetime.date.fromisoformat(hi) - d0).days
    return d0 + datetime.timedelta(days=rng.randrange(span))


def render(tpl, rng):
    """One text of template `tpl` with literals drawn from `rng`."""
    entity, fmt = TEMPLATES[tpl]
    if tpl == "li_topn":
        p = dict(d=_date(rng, "1992-01-02", "1998-06-01"), q=rng.randrange(1, 45),
                 n=rng.randrange(20, 400))
    elif tpl == "li_q1":
        p = dict(d=_date(rng, "1998-01-01", "1998-12-01"), dp=rng.randrange(4, 11))
    elif tpl == "li_wide":
        p = dict(k=rng.randrange(0, 140000))
    elif tpl == "orders":
        d = _date(rng, "1992-01-01", "1998-06-01")
        p = dict(d=d, d2=d + datetime.timedelta(days=rng.randrange(30, 120)),
                 p=rng.choice(PRIORITIES), n=rng.randrange(20, 400))
    elif tpl == "customer":
        p = dict(nk=rng.randrange(25), a=rng.randrange(-999, 9000))
    elif tpl == "documents":
        lo = rng.randrange(0, 4000)
        p = dict(lo=lo, hi=lo + rng.randrange(200, 1000))
    else:
        p = dict(k=rng.randrange(0, 90), e=rng.randrange(10000, 100000))
    return entity, fmt.format(**p)


def serving_plan(seed, clients, seconds):
    """Blocks of seven operations, every template once per block, federated
    and single-site templates alternating. Across four consecutive blocks each
    template takes every combination of path (POST /query/sync, or the
    async REST cycle: submit, poll, fetch) and text (its hot (text, user)
    pair, repeated throughout the run, or a text never sent before). Any
    two consecutive blocks send every template on both paths, and a hot
    and a fresh federated one. Users
    rotate over admin / none / unknown; one sync request per block
    negotiates the Arrow IPC stream, the rest take parquet.

    The timed window is a fixed amount of work: one block per 3 s of
    `seconds`, at least three (21 operations at 10 s). Whole blocks keep the
    template mix the same for every seed, and a fixed count keeps it the
    same however fast the host runs."""
    rng = random.Random(f"serve-churn:{seed}")
    seen = set()

    def fresh(tpl):
        for _ in range(1000):
            entity, sql = render(tpl, rng)
            if sql not in seen:
                seen.add(sql)
                return entity, sql
        raise RuntimeError(f"template {tpl} ran out of distinct texts")

    def op(id_, tpl, entity, sql, user, kind, enc, hot):
        return dict(id=id_, tpl=tpl, entity=entity, sql=sql, user=user,
                    kind=kind, enc=enc, hot=hot)

    def one_of_each(first_id, kind_of):
        """Every template once, with a fresh text; used for warm-up and for
        the traced run."""
        out = []
        for i, tpl in enumerate(TEMPLATE_NAMES):
            entity, sql = fresh(tpl)
            kind = kind_of(i)
            out.append(op(first_id + i, tpl, entity, sql, USERS[i % len(USERS)], kind,
                          "arrow" if kind == "sync" and i % 3 == 0 else "parquet", False))
        return out

    hot = {}
    for i, tpl in enumerate(TEMPLATE_NAMES):
        entity, sql = fresh(tpl)
        hot[tpl] = (entity, sql, USERS[i % len(USERS)])
    # one warm-up per set-up, each with texts of its own, on both paths for
    # federated and for single-site templates
    warmups = [one_of_each(900000 + 1000 * k,
                           lambda i: "sync" if (i // 2) % 2 == 0 else "async")
               for k in range(SETUPS)]
    # the traced run: every template once with a fresh text, the other path
    # from the warm-up's; then the same texts again untraced and retraced
    traced = one_of_each(800000, lambda i: "async" if (i // 2) % 2 == 0 else "sync")
    untraced = [dict(o, id=o["id"] - 100000) for o in traced]
    retraced = [dict(o, id=o["id"] - 200000) for o in traced]
    ops = []
    for block in range(max(3, round(seconds / 3))):
        order = list(enumerate(TEMPLATE_NAMES))
        # users, paths and encodings rotate the same way for every seed,
        # so that seeds differ only in their texts
        users = [USERS[(block + j) % len(USERS)] for j in range(len(order))]
        sync = [t for t, _ in order if (t + block) % 2 == 0]
        arrow = sync[block % len(sync)]
        for j, (t, tpl) in enumerate(order):
            # a pair of blocks keeps each template hot or fresh, so a hot
            # pair repeats within it; templates are paired so that both
            # kinds include a federated one
            is_hot = (t // 2 + block // 2) % 2 == 0
            if is_hot:
                entity, sql, user = hot[tpl]
            else:
                entity, sql = fresh(tpl)
                user = users[j]
            kind = "sync" if t in sync else "async"
            ops.append(op(len(ops) + 1, tpl, entity, sql, user, kind,
                          "arrow" if t == arrow else "parquet", is_hot))
    return dict(workload="serve-churn", seed=seed, clients=clients,
                warmups=warmups, ops=ops,
                traced=traced, untraced=untraced, retraced=retraced,
                apply_every=APPLY_EVERY, apply_yaml=apply_yaml())


def apply_yaml():
    """Two versions of a side entity on global that no query reads: each
    apply swaps the catalog's Mesh value without changing any answer."""
    docs = []
    for bound in (3, 5):
        docs.append(f"""api_version: v1alpha1
kind: Entity
spec:
  name: bench_side
  information:
    - {{name: id, arrow_dtype: Int64}}
    - {{name: label, arrow_dtype: Utf8}}
---
api_version: v1alpha1
kind: LocalData
spec:
  name: bench_conn
  data_sources:
    - name: side_src
      source_sql: SELECT CAST(r_regionkey AS BIGINT) AS id, r_name AS label FROM raw_region WHERE r_regionkey < {bound}
      fields:
        - {{name: id, path: id}}
        - {{name: label, path: label}}
---
api_version: v1alpha1
kind: LocalMapping
spec:
  entity_name: bench_side
  mappings:
    - data_con_name: bench_conn
      source_mappings:
        - data_source_name: side_src
          field_mappings:
            - {{info: id, field: id}}
            - {{info: label, field: label}}
""")
    return docs


def suite_plan(names, seconds):
    """The suite in name order (some queries read what earlier ones wrote).
    The timed window is a fixed number of whole passes, one per 5 s of
    `seconds`, at least two (two at 10 s). The seed does not enter: the
    suite's inputs are its fixed data set."""
    return dict(workload="suite-batch", suite=sorted(names), setups=SETUPS,
                passes=max(2, round(seconds / 5)))


def plan(workload, seed, clients, seconds, suite_names=()):
    if workload == "suite-batch":
        return suite_plan(suite_names, seconds)
    if workload == "serve-churn":
        return serving_plan(seed, clients, seconds)
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
