from .catalog import TABLES, load, register_views

__all__ = ["TABLES", "load", "register_views"]
