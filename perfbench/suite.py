"""The operator-suite query list, in three groups named for the layer they
load: driver-side plan construction that itself launches Spark jobs
(``iterative``), Arrow/pandas kernels in Python workers
(``python_kernel``), and JVM stage execution (``jvm_exec``).  Between them
the queries reach every operator family of the registry: graph
(shortest_hops), text (char_entropy), dedup (dedup_winnow), similarity
(semantic_decontaminate), relational (tpch_q1), analytics
(cohort_retention) and market (rfm_segments)."""

from __future__ import annotations

GROUPS: dict[str, tuple[str, ...]] = {
    "iterative": ("shortest_hops",),
    "python_kernel": ("char_entropy", "dedup_winnow", "semantic_decontaminate"),
    "jvm_exec": ("tpch_q1", "cohort_retention", "rfm_segments"),
}
TINY: dict[str, tuple[str, ...]] = {g: q[:1] for g, q in GROUPS.items()}
