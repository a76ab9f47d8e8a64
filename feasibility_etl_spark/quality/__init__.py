from .gates import validate_not_null
from .profile import profile_columns

__all__ = [
    "profile_columns",
    "validate_not_null",
]
