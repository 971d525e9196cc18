"""Named-query catalog: the driver-facing inventory of implemented operators.

``queries`` holds the registry; the extension modules (dedup /
similarity / text / multimodal, then sessions / clustering / sketches /
vocab) register themselves into it on import. Importing them here, after
``queries`` and in this order, gives every entry point the same catalog
in the same insertion order, whichever plan module it imports first,
and keeps the extension modules' imports of each other acyclic.
"""

from . import queries  # noqa: F401
from . import extensions  # noqa: F401
from . import analytics  # noqa: F401
from . import insights  # noqa: F401
from . import corpus  # noqa: F401
