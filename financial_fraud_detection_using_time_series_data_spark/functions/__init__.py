from . import exprs, lineage, local

__all__ = ["exprs", "lineage", "local"]
