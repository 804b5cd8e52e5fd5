from . import exprs, local

__all__ = ["exprs", "local"]
