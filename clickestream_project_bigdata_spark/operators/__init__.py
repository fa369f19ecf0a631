from . import (  # noqa: F401
    analytics,
    cleanse,
    dedup,
    multimodal,
    sessionize,
    similarity,
    text,
)
