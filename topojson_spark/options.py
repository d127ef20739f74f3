"""Engine configuration.

Mirrors the 13-field option surface of the reference
(/root/reference/topojson/utils.py:15-101 ``TopoOptions`` and
/root/reference/topojson/core/topology.py:108-123 ``Topology(...)`` kwargs)
but as a frozen dataclass that is cheap to broadcast to executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional, Sequence, Union


@dataclass(frozen=True)
class TopoOptions:
    """Options controlling the topology computation.

    Defaults follow ``topojson.Topology`` (topology.py:108-123), i.e. the
    user-facing entry point: ``prequantize=True`` (factor 1e5),
    ``shared_coords=False`` (path-connected junction detection),
    ``winding_order='CW_CCW'``.
    """

    topology: bool = True
    prequantize: Union[bool, float] = True
    topoquantize: Union[bool, float] = False
    presimplify: Union[bool, float] = False
    toposimplify: Union[bool, float] = False
    shared_coords: bool = False
    prevent_oversimplify: bool = True
    simplify_with: str = "shapely"  # kept for API parity; both map to numpy DP/VW
    simplify_algorithm: str = "dp"
    winding_order: Optional[str] = "CW_CCW"
    object_name: Union[str, Sequence[str]] = "data"
    ignore_index: bool = False

    # engine-level options (no reference counterpart)
    checkpoint_dir: Optional[str] = None  # stage-output checkpointing root
    # with checkpoint_dir set: trust existing stage parquet (resume a
    # killed job from its last completed stage) instead of recomputing
    checkpoint_resume: bool = False

    def object_names(self) -> list:
        if isinstance(self.object_name, str):
            return [self.object_name]
        return list(self.object_name)

    @property
    def quant_factor(self) -> Optional[float]:
        """Resolved prequantize factor (join.py:159-163: True -> 1e5)."""
        q = self.prequantize
        if q is True:
            return 1e5
        if q and q > 0:
            return float(q)
        return None

    @property
    def topoquant_factor(self) -> Optional[float]:
        q = self.topoquantize
        if q is True:
            return 1e5
        if q and q > 0:
            return float(q)
        return None

    @property
    def presimplify_factor(self) -> Optional[float]:
        p = self.presimplify
        if p is True:
            return 2.0  # join.py:132-135 default
        if p and p > 0:
            return float(p)
        return None

    @property
    def toposimplify_factor(self) -> Optional[float]:
        t = self.toposimplify
        if t is True:
            return 0.0001  # topology.py:608-616 default
        if t and t > 0:
            return float(t)
        return None

    def with_(self, **kw) -> "TopoOptions":
        return replace(self, **kw)
