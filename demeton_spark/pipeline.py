"""Shading-script parsing and pipeline evaluation.

The script grammar matches the reference CLI exactly
(/root/reference/Demeton/Shaders/Pipeline/Parsing.fs:21-68):

    step ::= name [ '(' param '=' value (',' param '=' value)* ')' ]
    script ::= step ('|+' step)*

with quoted values (``'...'``) allowed.  Steps fold left-deep into
"over" compositing (Building.fs:72-107): ``a|+b`` renders ``a`` then
composites ``b`` over it.

Registered steps mirror the reference registry
(Commands/ShadeCommand.fs:119-124 + TileShadeCommand's built-ins):

    elecolor(scale=0:#ccf3ff;…;none:#00000000)
    igor(sunaz=-45, shadcol=#333333, intensity=1)
    lambert(sunaz=-45, sunalt=45, shadcol=#000000, intensity=1)
    slope(hcol=#00000000, vcol=#000000ff, intensity=1)
    aspect(ncol=…, ecol=…, scol=…, wcol=…)
    solid(color=#ffffff)

Custom shaders register through :func:`register_shader` — the engine's
UDF-extension surface (SURVEY.md §2.10): a custom step is a named numpy
function ``(ShadeContext, params) -> RGBA array``.

Evaluation happens inside the pandas UDF over one tile block: the Horn
gradient / slope / aspect are computed once per tile (ShadeContext),
each leaf step is a vectorized shader over them, and Compositing nodes
combine the two child images (Pipeline/Common.fs:71-172).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

from . import kernels
from .colors import MAPERITIVE_SCALE, parse_color_scale, parse_hex

_STEP_RE = re.compile(r"\s*([A-Za-z0-9]+)\s*(\(([^)]*)\))?\s*$")
_PARAM_RE = re.compile(r"\s*([A-Za-z0-9]+)\s*=\s*(?:'([^']*)'|([^,\s']+))\s*$")


@dataclass(frozen=True)
class Step:
    name: str
    params: dict = field(default_factory=dict)


def parse_script(script: str) -> list[Step]:
    """Parse ``igor(sunaz=135)|+elecolor(...)`` into an ordered step list."""
    steps: list[Step] = []
    for chunk in script.split("|+"):
        m = _STEP_RE.match(chunk)
        if not m:
            raise ValueError(f"invalid shading step: {chunk!r}")
        name = m.group(1)
        params: dict = {}
        body = m.group(3)
        if body:
            for part in _split_params(body):
                pm = _PARAM_RE.match(part)
                if not pm:
                    raise ValueError(f"invalid step parameter: {part!r}")
                params[pm.group(1)] = (
                    pm.group(2) if pm.group(2) is not None else pm.group(3)
                )
        steps.append(Step(name, params))
    if not steps:
        raise ValueError("Shading pipeline is empty.")
    return steps


def _split_params(body: str) -> list[str]:
    """Split on commas not inside quotes (scale values contain ';' not ',')."""
    parts, cur, in_quote = [], [], False
    for ch in body:
        if ch == "'":
            in_quote = not in_quote
            cur.append(ch)
        elif ch == "," and not in_quote:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


@dataclass
class ShadeContext:
    """Per-tile precomputed rasters handed to every shader step.

    ``heights`` float (H, W), NaN = missing, row 0 = south (DEM order);
    slope/aspect in radians, NaN where any 3×3 neighbor was missing.
    ``water`` is an optional bool mask for the water shaders (the
    reference wires these as CustomShading steps over the XTH water bit,
    TileShadeCommand.fs:428-494).  ``dem`` is the int16 grid the heights
    came from (``DEM_HEIGHT_NONE`` = missing), when there is one: the
    tile path passes a view of its padded block and elecolor colors it
    with one LUT gather; float-only callers (bilinear projected heights)
    leave it None.
    """

    heights: np.ndarray
    slope: np.ndarray
    aspect: np.ndarray
    water: np.ndarray | None = None
    dem: np.ndarray | None = None


def _color(params: dict, key: str, default):
    return parse_hex(params[key]) if key in params else default


def _igor_args(params: dict) -> dict:
    return {
        "sun_azimuth_rad": math.radians(float(params.get("sunaz", -45.0))),
        "intensity": float(params.get("intensity", 1.0)),
    }


def _shade_igor(ctx: ShadeContext, params: dict) -> np.ndarray:
    return kernels.shade_igor(
        ctx.slope,
        ctx.aspect,
        shading_color=_color(params, "shadcol", (0, 0, 0, 0)),
        **_igor_args(params),
    )


def _shade_lambert(ctx: ShadeContext, params: dict) -> np.ndarray:
    return kernels.shade_lambert(
        ctx.slope,
        ctx.aspect,
        sun_azimuth_rad=math.radians(float(params.get("sunaz", -45.0))),
        sun_altitude_rad=math.radians(float(params.get("sunalt", 45.0))),
        shading_color=_color(params, "shadcol", (0, 0, 0, 0)),
        intensity=float(params.get("intensity", 1.0)),
    )


def _shade_slope(ctx: ShadeContext, params: dict) -> np.ndarray:
    return kernels.shade_slope(
        ctx.slope,
        horizontal_color=_color(params, "hcol", (0, 0, 0, 0)),
        vertical_color=_color(params, "vcol", (0, 0, 0, 255)),
        intensity=float(params.get("intensity", 1.0)),
    )


def _shade_aspect(ctx: ShadeContext, params: dict) -> np.ndarray:
    return kernels.shade_aspect(
        ctx.aspect,
        north_color=_color(params, "ncol", (255, 0, 0, 255)),
        east_color=_color(params, "ecol", (0, 255, 0, 255)),
        south_color=_color(params, "scol", (0, 0, 255, 255)),
        west_color=_color(params, "wcol", (0, 255, 255, 255)),
    )


def _shade_elecolor(ctx: ShadeContext, params: dict) -> np.ndarray:
    scale = (
        parse_color_scale(params["scale"]) if "scale" in params else MAPERITIVE_SCALE
    )
    return kernels.shade_elevation(
        ctx.heights if ctx.dem is None else ctx.dem, scale
    )


def _shade_solid(ctx: ShadeContext, params: dict) -> np.ndarray:
    return kernels.solid_background(
        ctx.heights.shape, _color(params, "color", (255, 255, 255, 255))
    )


def _shade_water(ctx: ShadeContext, params: dict) -> np.ndarray:
    """Water-bodies shader: water color where the mask says water,
    transparent elsewhere (WaterBodiesShaders.fs:56-114; the XTH MSB
    water-from-DEM variant, TileShadeCommand.fs:428-473, feeds the same
    mask via codec.decode_xth).  Falls back to heights <= sealevel when
    no mask was wired into the context."""
    color = _color(params, "color", (73, 126, 173, 255))
    if ctx.water is not None:
        mask = ctx.water
    else:
        sea = float(params.get("sealevel", 0.0))
        with np.errstate(invalid="ignore"):
            mask = np.nan_to_num(ctx.heights, nan=np.inf) <= sea
    out = np.zeros((*ctx.heights.shape, 4), dtype=np.uint8)
    out[mask] = np.array(color, dtype=np.uint8)
    return out


def _shade_water_outline(ctx: ShadeContext, params: dict) -> np.ndarray:
    """Outline shader: shore rings 1..3 darkened toward the shore
    (WaterBodiesShaders.fs:116-207 forward-projected outline pixels)."""
    from .water import outline_distance

    color = _color(params, "color", (23, 76, 123, 255))
    if ctx.water is not None:
        mask = ctx.water
    else:
        sea = float(params.get("sealevel", 0.0))
        with np.errstate(invalid="ignore"):
            mask = np.nan_to_num(ctx.heights, nan=np.inf) <= sea
    dist = outline_distance(mask, max_dist=int(params.get("maxdist", 3)))
    out = np.zeros((*ctx.heights.shape, 4), dtype=np.uint8)
    ring = dist > 0
    out[ring] = np.array(color, dtype=np.uint8)
    # fade outer→inner rings: alpha scaled by 1/dist
    out[..., 3] = np.where(ring, out[..., 3] // np.maximum(dist, 1), 0).astype(
        np.uint8
    )
    return out


#: step-name → shader function registry (the CustomShading surface,
#: Pipeline/Common.fs:11-42)
SHADER_REGISTRY = {
    "igor": _shade_igor,
    "lambert": _shade_lambert,
    "slope": _shade_slope,
    "aspect": _shade_aspect,
    "elecolor": _shade_elecolor,
    "solid": _shade_solid,
    "water": _shade_water,
    "wateroutline": _shade_water_outline,
}


def register_shader(name: str, func) -> None:
    """Register a custom named shader: ``func(ctx, params) -> RGBA``."""
    SHADER_REGISTRY[name] = func


def _alpha_is_binary(alpha: np.ndarray) -> bool:
    """Every alpha is 0 or 255 (an opaque base with transparent voids):
    α + 1 wraps 255 to 0, so both and only they land at ≤ 1."""
    return bool((alpha + np.uint8(1) <= 1).all())


def evaluate_steps(
    steps: list[Step], ctx: ShadeContext, registry: dict | None = None
) -> np.ndarray:
    """Fold steps left-deep with "over" compositing (Building.fs:72-107).

    A step may carry ``compose=darken`` to switch the operator joining it
    onto the pipeline so far (TileShadeCommand's darken chain,
    Commands/TileShadeCommand.fs:333-388).
    Returns the RGBA image in DEM orientation (row 0 = south).

    ``registry`` overrides the module registry — the engine snapshots
    the driver's SHADER_REGISTRY into the UDF closure at plan time so
    shaders registered at runtime (register_shader) travel to executor
    processes with the task (a worker's freshly imported module never
    sees driver-side mutations).

    Fused igor: a built-in ``igor`` with a black shading color composited
    "over" a base whose alphas are all 0 or 255 (an opaque elecolor with
    voids) never builds its RGBA layer — its RGB is constant black, so
    :func:`kernels.over_black` applies the bare :func:`kernels.igor_alpha`
    plane.  Opaque base pixels darken; a transparent base pixel becomes
    (0,0,0,α) where α > 0 (Horn skips the centre cell, so an isolated
    void still gets an aspect) and stays as it was where α = 0.  The
    bytes equal shade_igor + composite_over's; a base with any alpha in
    1..254 takes that general path.
    """
    reg = SHADER_REGISTRY if registry is None else registry
    image: np.ndarray | None = None
    for step in steps:
        if step.name not in reg:
            raise ValueError(f"Unrecognized shading step '{step.name}'.")
        if (
            image is not None
            and step.name == "igor"
            # only fuse while 'igor' still maps to the built-in shader —
            # a runtime register_shader('igor', ...) override must win
            and reg.get("igor") is _shade_igor
            and step.params.get("compose", "over") == "over"
            and _color(step.params, "shadcol", (0, 0, 0, 0))[:3] == (0, 0, 0)
            and _alpha_is_binary(image[..., 3])
        ):
            alpha = kernels.igor_alpha(
                ctx.slope, ctx.aspect, **_igor_args(step.params)
            )
            image = kernels.over_black(alpha, image)
            continue
        layer = reg[step.name](ctx, step.params)
        if image is None:
            image = layer
        else:
            op = kernels.COMPOSITING_FUNCS[step.params.get("compose", "over")]
            image = op(layer, image)
    assert image is not None
    return image


DEFAULT_SCRIPT = "elecolor|+igor"  # the reference CLI default pipeline
