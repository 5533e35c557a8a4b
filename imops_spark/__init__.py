"""imops_spark — a PySpark-native engine with the capabilities of neuro-ml/imops.

Public surface mirrors the reference's ``imops/__init__.py`` (study target at
/root/reference, read-only), re-expressed as Spark DataFrame algebra:
every operator has an ndarray convenience wrapper (encode → plan → decode) and
a DataFrame-level core (``*_df``) that scales horizontally.
"""

from .functions._mem import ensure_malloc_tuning as _ensure_malloc_tuning

# the driver keeps large numpy buffers on the reusable heap, as the Python
# workers do (functions/_mem.py owns the threshold and its escape hatches)
_ensure_malloc_tuning()

from .backend import (  # noqa: F401,E402
    Backend,
    Cython,
    Numba,
    Scipy,
    imops_backend,
    set_backend,
)
from .box import (  # noqa: F401
    add_margin,
    box_to_shape,
    make_box,
    mask_to_box,
    shape_to_box,
)
from .session import get_spark, stop_spark  # noqa: F401
from .tensor_io import (  # noqa: F401
    TensorFrame,
    decode_volume,
    encode_blobs,
    encode_volume,
    encode_volumes,
    load_npy_gz,
)
from .utils import isin  # noqa: F401
from .operators.convex_hull import convex_hull_image  # noqa: F401
from .operators.crop import crop_to_box, crop_to_shape  # noqa: F401
from .operators.interp1d import interp1d  # noqa: F401
from .operators.interp2d import Linear2DInterpolator  # noqa: F401
from .operators.radon import inverse_radon, radon  # noqa: F401
from .operators.measure import center_of_mass, label  # noqa: F401
from .operators.morphology import (  # noqa: F401
    binary_closing,
    binary_dilation,
    binary_erosion,
    binary_opening,
    distance_transform_edt,
)
from .operators.zoom import zoom, zoom_to_shape  # noqa: F401
from .operators.numeric import copy, fill_, full, pointwise_add  # noqa: F401
from .operators.pad import (  # noqa: F401
    pad,
    pad_to_divisible,
    pad_to_shape,
    restore_crop,
)

__version__ = "0.1.0"
