"""API-surface mirror of the reference's FastAPI endpoints.

The reference exposes three detector endpoints
(`reference/src/pycatcher/api_catch.py:27-117`) and nine plot-builder
endpoints (`api_diagnostics.py:60-128`). FastAPI is NOT installed in
this sandbox, so the HANDLER SEMANTICS live here as plain functions —
(data, columns) rows-and-names payload → pandas frame → compat
detector → `{"outliers": [...]}` records — and `create_fastapi_app()`
wires them into a real FastAPI app when the package is available
(import-gated, never required).

Status-code deviation, deliberate: the reference raises its inner
HTTPException(400)s INSIDE the outer `except Exception` block, so
clients actually observe 500 with a detail string of "400: ..."
(`api_catch.py:52`). Here ApiError(400) propagates cleanly as 400 —
a fix, not parity; callers asserting the reference's observed 500s
must adjust.

The nine plot-builder endpoints return base64 PNGs like the
reference's — rendered by the dependency-free tstoken.plots/plotting
rasterizer instead of matplotlib — alongside the data-half endpoints
(`decomposition_results`, `monthwise_stats`) that return the frames
those plots draw.
"""

from __future__ import annotations

import functools
from typing import Any

import pandas as pd

from . import compat


class ApiError(Exception):
    """Handler error with an HTTP-ish status code (mirrors
    fastapi.HTTPException without the dependency)."""

    def __init__(self, status_code: int, detail: str):
        super().__init__(detail)
        self.status_code = status_code
        self.detail = detail


def _frame(data: list[list], columns: list[str]) -> pd.DataFrame:
    """InputModel → DataFrame with the reference's first-column
    datetime coercion (`api_catch.py:31-38`)."""
    df = pd.DataFrame(data=data, columns=columns)
    if not pd.api.types.is_datetime64_any_dtype(df.iloc[:, 0]):
        try:
            df.isetitem(0, pd.to_datetime(df.iloc[:, 0]))
        except Exception as e:
            raise ApiError(
                400, f"Error converting first column to datetime: {e}")
    return df


def _records(out) -> list[dict[str, Any]]:
    return out.reset_index().to_dict(orient="records")


def _endpoint(fn):
    """One error mapping for every endpoint: `fn(df)` runs on the
    request frame; an ApiError (a 400: bad date column, no outliers,
    unexpected output) passes through, any other failure becomes a 500
    with the exception text."""

    def handler(data: list[list], columns: list[str]) -> dict:
        try:
            return fn(_frame(data, columns))
        except ApiError:
            raise
        except Exception as e:
            raise ApiError(500, str(e))

    handler.__name__, handler.__doc__ = fn.__name__, fn.__doc__
    return handler


@_endpoint
def find_outliers(df: pd.DataFrame) -> dict:
    """POST /find_outliers (`api_catch.py:27-53`): IQR fence rows."""
    return {"outliers": _records(compat.find_outliers_iqr(df))}


@_endpoint
def detect_outliers_stl(df: pd.DataFrame) -> dict:
    """POST /detect_outliers_stl (`api_catch.py:56-89`)."""
    out = compat.detect_outliers_stl(df)
    if isinstance(out, pd.DataFrame):
        return {"outliers": _records(out)}
    raise ApiError(400, "No outliers detected or an error occurred.")


@_endpoint
def detect_outliers_today_classic(df: pd.DataFrame) -> dict:
    """POST /detect_outliers_today_classic (`api_catch.py:92-117`);
    the 'No Outliers Today!' sentinel becomes a message record."""
    out = compat.detect_outliers_today_classic(df)
    if isinstance(out, pd.DataFrame):
        return {"outliers": _records(out)}
    if isinstance(out, str):
        return {"outliers": [{"message": out}]}
    raise ApiError(400, "Unexpected output from the function.")


@_endpoint
def decomposition_results(df: pd.DataFrame) -> dict:
    """Data half of the seasonal-plot endpoints
    (`api_diagnostics.py:67-89` minus the PNG): the 4-column
    decomposition frame, or a message when the series is too short."""
    out = compat.build_decomposition_results(df)
    if out is None:
        return {"outliers": [{"message": "series too short to decompose"}]}
    return {"outliers": _records(out)}


@_endpoint
def monthwise_stats(df: pd.DataFrame) -> dict:
    """Data half of build_monthwise_plot as an endpoint."""
    out = compat.build_monthwise_stats(df)
    out["Month-Year"] = out["Month-Year"].astype(str)
    return {"outliers": _records(out)}


@functools.lru_cache(maxsize=1)
def _blank_figure_b64() -> str:
    """Base64 of an empty white figure — what the reference's
    `generate_plot_response` actually serializes when a builder
    declines to plot: it calls `plt.savefig` unconditionally
    (`api_diagnostics.py:45-48`), so a gated builder that returned
    None still yields 200 + an empty/stale canvas (its own test suite
    posts a 7-row series to the seasonal endpoints and asserts 200).
    We reproduce the observable contract (200, decodable PNG, no data
    drawn) without the stale-figure leak between requests."""
    import base64

    from .plotting import Canvas, png_encode
    return base64.b64encode(png_encode(Canvas(640, 480).a)) \
        .decode("ascii")


def _plot_endpoint(builder):
    """Reference `generate_plot_response` (`api_diagnostics.py:41-57`):
    run the builder, return `{"plot_image": <base64 PNG>}`, any failure
    becomes a 500 with the exception text. Our builders return data
    URIs; the endpoint strips the prefix so the payload matches the
    reference's raw-base64 OutputModel. A builder that declines to
    plot (returns None — seasonal gates not met) returns an empty
    figure with 200, matching the reference's observed behavior (see
    _blank_figure_b64)."""

    def plot(df: pd.DataFrame) -> dict:
        uri = builder(df)
        if uri is None:
            return {"plot_image": _blank_figure_b64()}
        return {"plot_image": uri.split(",", 1)[1]}

    plot.__name__ = builder.__name__
    return _endpoint(plot)


def _plot_handlers() -> dict:
    """The reference's nine plot endpoints (`api_diagnostics.py:
    60-128`), rendered for real by tstoken.plots."""
    from . import plots as P
    return {f"/{name}": _plot_endpoint(getattr(P, name))
            for name in (
                "build_iqr_plot", "build_seasonal_plot_classic",
                "build_seasonal_plot_stl", "build_seasonal_plot_mstl",
                "build_outliers_plot_classic",
                "build_outliers_plot_mstl", "build_outliers_plot_stl",
                "build_outliers_plot_esd",
                "build_outliers_plot_moving_average")}


HANDLERS = {
    "/find_outliers": find_outliers,
    "/detect_outliers_stl": detect_outliers_stl,
    "/detect_outliers_today_classic": detect_outliers_today_classic,
    "/decomposition_results": decomposition_results,
    "/monthwise_stats": monthwise_stats,
    **_plot_handlers(),
}


def create_fastapi_app():
    """Wire HANDLERS into a FastAPI app — only when fastapi is
    installed (it is not in this sandbox; the reference's app shape is
    preserved so the wiring is one import away in production)."""
    try:
        from fastapi import FastAPI, HTTPException
        from pydantic import BaseModel
    except ImportError as e:  # pragma: no cover - absent in sandbox
        raise ImportError("fastapi/pydantic not installed") from e

    class InputModel(BaseModel):  # pragma: no cover
        data: list[list]
        columns: list[str]

    app = FastAPI(title="Outliers Detection API", version="1.0")

    def _wrap(fn):  # pragma: no cover
        async def endpoint(inputs: InputModel):
            try:
                return fn(inputs.data, inputs.columns)
            except ApiError as e:
                raise HTTPException(status_code=e.status_code,
                                    detail=e.detail)
        return endpoint

    for path, fn in HANDLERS.items():  # pragma: no cover
        app.post(path)(_wrap(fn))
    return app
