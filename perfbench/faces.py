"""The `faces` workload: which `SparkEntry.queries` faces a pass runs, the
operator module each one calls into (the per-layer metric names), and
why each is on the list."""

FACES = [
    # name, module, reason
    ("asof_event_orders", "AsOf",
     "work that count() hid: the as-of window was pruned away"),
    ("ev29_did", "EventAnalytics",
     "work that count() hid, on the events table"),
    ("eval10_als_fit", "Recommend",
     "work that count() hid; construction collects an ALS model on the "
     "driver, so construct_s and spark_jobs move"),
    ("geo3_knn_join_indexed", "Spatial",
     "job-heavy indexed chain with three sidecar reads; its twin "
     "geo3_knn_join calls the same function, so one face stands for both"),
    ("sim_ann_lsh_indexed", "Similarity",
     "indexed ANN chain: a driver-side collect of the query's bands, then "
     "a probe over an index that operators.Staging builds during set-up; "
     "the probe (annLshProbe) changed in the last optimisation round "
     "(OPTIMIZATION_r16.md)"),
    ("oq4_top_k", "Audits",
     "synthetic twin of OSM Q4 (top-10 shops)"),
]

MODULES = sorted({m for _, m, _ in FACES})
