from .registry import REGISTRY, headline_queries, run_noop  # noqa: F401
