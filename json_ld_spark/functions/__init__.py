from .iri_ops import compact_iri_col

__all__ = ["compact_iri_col"]
