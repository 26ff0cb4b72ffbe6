"""Seeded op sequences of the two workloads.

Each generator returns (params, ops): `params` go to the harness as
`@key<TAB>value` lines, `ops` are (kind, part, name, *args) tuples with
kind `read` or `write` and part `sql` (a named query), `dml` (a versioned
table op) or `etl` (the daily pipeline cycle or a gold KPI read). The harness runs
the first `warm` ops during set-up, then the rest in order until its time
is up and it has run at least `passes` passes, always finishing the
`pass` it is in, so that every run measures whole passes with the same op
mix; every list is longer than a run can finish. The same seed always
gives the same list.

`lakehouse_sql`: analysts' SQL over the lakehouse tables while the
tables are maintained. Each pass is a seeded permutation of the lakehouse
query panel, two selective `readWhere`s and two view-covered aggregates
over a versioned table, one upsert and one delete of that table, and a
closing compaction (each write with its view refresh). Traced, the view
refreshes take the largest share of op time, then query execution and
construction, whose only jobs are table loads.

`etl_curation`: the paper's medallion pipeline with ML curation reading
alongside. Each pass lands one held-back day in one write op, the daily
cycle (bronze append, silver range with late-data merge, gold range),
then runs a seeded permutation of three gold KPI reads and the curation
query panel, whose near-dup, ANN and text queries run construction-phase
jobs about as heavy as their execution and read one table each. Traced,
the cycle takes the largest share of op time.
"""
import random

# Query panels. A run cannot time all 174 queries: each query's first
# execution in a fresh JVM costs 0.1-20 s of compilation and fixture builds,
# so a run times a fixed panel per workload, covering every query module.
# Every query still belongs to exactly one workload's pool (by module),
# which the harness checks.
LAKEHOUSE = [
    # TpchQueries / ExtQueries
    "q1_agg", "q_join_agg", "q_topk", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
    # EventKpis
    "q_velocity", "q_silver_flatten",
    # SparkEntry's own queries
    "q_sessionize", "q_asof_join", "q_approx_distinct",
    # SkippingQueries: stats-pruned, partition-pruned and bucketed graft scans
    "q_skipping_scan", "q_partitioned_scan", "q_bucketed_join",
]
CURATION = [
    # NearDup
    "q_minhash_lsh", "q_minhash_estimate",
    # SimilarityQueries
    "q_ann_ivf", "q_cosine_topk",
    # TextQueries
    "q_tfidf", "q_gopher_rules",
    # Multimodal
    "q_image_neardup", "q_multimodal_features",
]
KPIS = ["kpi_writing_velocity_daily", "kpi_revision_churn_daily",
        "kpi_engagement_bands_daily", "kpi_dropoff_rate_daily",
        "kpi_post_release_engagement"]

CPUS = 4
SF = 0.01  # table scale: lineitem = 6M x SF rows
PASSES = 8


def lakehouse_ops(seed, n_rows):
    """Keys of the versioned table are 0..n_rows-1; upserts update 40
    existing keys and insert 20 fresh ones, deletes remove the even keys
    of a 1% range, reads select a 2% key range."""
    rng = random.Random(seed)
    fresh = n_rows
    ops = []

    def dml(name):
        nonlocal fresh
        if name == "where":
            lo = rng.randrange(0, n_rows - n_rows // 50)
            return ("read", "dml", "where", lo, lo + n_rows // 50)
        if name == "agg":
            return ("read", "dml", "agg")
        if name == "upsert":
            lo = rng.randrange(0, n_rows - 40)
            fresh += 20
            return ("write", "dml", "upsert", len(ops), lo, 40, fresh - 20, 20)
        if name == "delete":
            lo = rng.randrange(0, n_rows - n_rows // 100)
            return ("write", "dml", "delete", lo, lo + n_rows // 100)
        return ("write", "dml", "compact", 64 * 1024)

    warm = ["where", "agg", "upsert", "agg", "delete", "compact"]
    for name in warm:
        ops.append(dml(name))
    per_pass = [("sql", q) for q in LAKEHOUSE] + [("dml", n) for n in (
        "where", "where", "agg", "agg", "upsert", "delete")]
    for _ in range(PASSES):
        order = per_pass[:]
        rng.shuffle(order)
        # the compaction closes the pass, so it always merges the files that
        # pass's upsert and delete wrote
        for part, name in order + [("dml", "compact")]:
            ops.append(("read", "sql", name) if part == "sql" else dml(name))
    params = {"cpus": CPUS, "warm": len(warm), "pass": len(per_pass) + 1, "passes": 2,
              "files": 8}
    return params, ops


def etl_curation_ops(seed, kpi_reads=3):
    """Held-back day k is pass k. There are no warm-up ops: the backfill in
    set-up has already run the pipeline code the cycles run. With three
    gold KPI reads a pass, the median read falls inside the cluster of one
    curation query's latencies rather than in the gap between two
    clusters, where it would jump between them."""
    rng = random.Random(seed)
    ops = []
    for k in range(PASSES):
        ops.append(("write", "etl", "cycle", k))
        reads = [("read", "etl", t, k) for t in rng.sample(KPIS, kpi_reads)]
        reads += [("read", "sql", q) for q in CURATION]
        rng.shuffle(reads)
        ops += reads
    params = {"cpus": CPUS, "warm": 0,
              "pass": 1 + kpi_reads + len(CURATION), "passes": 3, "seed": seed,
              # 180 stories (6 tenants x 10 authors x 3), sampled down to
              # 3000 events: every seed lands the same volume of events, and
              # enough stories that the mix of personas, which sets how well
              # the tables compress, varies little between seeds
              "tenants": 6, "authors": 10, "stories": 3, "events": 3000, "days": 16,
              "end_day": "2025-06-30",
              "corrupt": 0.02, "late": 0.1, "held": PASSES}
    return params, ops


def make(workload, seed, n_rows=None):
    if workload == "lakehouse_sql":
        return lakehouse_ops(seed, n_rows)
    if workload == "etl_curation":
        return etl_curation_ops(seed)
    raise ValueError(f"unknown workload {workload}")


def render(params, ops):
    lines = [f"@{k}\t{v}" for k, v in params.items()]
    lines += ["\t".join(str(x) for x in o) for o in ops]
    return "\n".join(lines) + "\n"
