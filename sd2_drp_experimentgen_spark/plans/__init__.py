from .registry import QuerySpec, all_specs, register  # noqa: F401
