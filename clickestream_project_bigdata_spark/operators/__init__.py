from . import (  # noqa: F401
    analytics,
    cleanse,
    dedup,
    sessionize,
    similarity,
    text,
)
