from .columns import cosine_similarity, dot_product, l2_norm  # noqa: F401
