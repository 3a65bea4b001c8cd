from .delta_interop import is_delta_table  # noqa: F401
from .table import LakeTable  # noqa: F401
