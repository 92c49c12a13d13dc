from .registry import REGISTRY, Query, register  # noqa: F401

# Importing the plan modules populates REGISTRY via their @register decorators.
from . import medallion  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import temporal  # noqa: F401,E402
from . import sqlops  # noqa: F401,E402
from . import advanced  # noqa: F401,E402
from . import tpch2  # noqa: F401,E402
from . import training  # noqa: F401,E402
from . import compression  # noqa: F401,E402
from . import tokenization  # noqa: F401,E402
from . import curation  # noqa: F401,E402  (round 6 — newest registers last)
from . import sampling  # noqa: F401,E402
from . import reconcile  # noqa: F401,E402
