from data_pipeline2_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    cosine_to_query,
    dot,
    l2_norm,
    query_vector_lit,
)
