from .casts import lenient_cast
from .projection import project_rename
from .scrub import safe_div, scrub_nonfinite

__all__ = [
    "lenient_cast",
    "project_rename",
    "scrub_nonfinite",
    "safe_div",
]
