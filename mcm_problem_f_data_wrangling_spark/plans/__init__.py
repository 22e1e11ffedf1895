from .registry import (  # noqa: F401
    REGISTRY,
    Query,
    headline_queries,
    run_noop,
)
