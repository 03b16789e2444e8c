"""The query set the ``query_suite`` workload times, pinned by name.

Drawn from the repository's headline list so that every family is present:
replicator plans (``r_*``), relational analytics (``a_*``), dedup and
similarity kernels, text statistics and a many-job quantile plan.  One pass
over the whole 66-query headline list takes about 70 s at sf0.01 on four
cores, which does not fit a run, so the set is a fixed subset of about
5 s per pass.
"""

TIMED_QUERIES = [
    "r_t1_segment_plan",
    "r_m1_merge_dedup",
    "r_t9_resume_replay",
    "a_q1_pricing_summary",
    "a_q5_region_revenue",
    "p_dedup_exact",
    "p_minhash_signatures",
    "p_text_stats",
    "p_histogram_quantiles",
]
