from .spec import RuleSpec, alert_projection
from .engine import apply_rules, apply_rules_single_pass, apply_rules_union

__all__ = [
    "RuleSpec",
    "alert_projection",
    "apply_rules",
    "apply_rules_single_pass",
    "apply_rules_union",
]
