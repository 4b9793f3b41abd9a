from cnc_visionsearch_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
    l2_sq,
    unit,
    vec_lit,
)

__all__ = ["dot", "l2_norm", "l2_normalize", "l2_sq", "cosine_sim", "unit", "vec_lit"]
