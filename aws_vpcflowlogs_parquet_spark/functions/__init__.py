from .casts import exact_avg, exact_sum  # noqa: F401
from .vectors import (  # noqa: F401
    cosine_pandas_udf,
    cosine_similarity,
    dot_product,
    l2_norm,
    to_double_array,
)
