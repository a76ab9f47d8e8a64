from .scalar import (
    delta_pair,
    hrs_to_sec,
    jira_ts,
    pct_change_abs,
    pct_diff,
)
from .json_fns import ISSUE_LINKS_TYPE, WORKLOG_TYPE

__all__ = [
    "delta_pair",
    "hrs_to_sec",
    "jira_ts",
    "pct_change_abs",
    "pct_diff",
    "ISSUE_LINKS_TYPE",
    "WORKLOG_TYPE",
]
