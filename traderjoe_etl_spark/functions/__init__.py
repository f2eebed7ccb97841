from .casts import lenient_cast
from .scrub import safe_div, scrub_nonfinite

__all__ = [
    "lenient_cast",
    "scrub_nonfinite",
    "safe_div",
]
