from .tables import TABLE_NAMES, read_table

__all__ = ["TABLE_NAMES", "read_table"]
