"""Generated documentation: config-defaults + metric-key tables.

The reference auto-generates its README configuration and metric
sections from annotations (``documentation/DocGenerator.java``,
``ConfigDocumentation.java``) so docs cannot drift from code. Same
contract here: the tables below render from :data:`engine.DEFAULTS` /
:data:`engine.CONFIG_DOCS` and :data:`streaming.metrics.METRIC_CATALOG`,
``python -m storm_dynamic_spout_spark.documentation`` rewrites the
marked README.md sections, and ``tests/test_documentation.py`` fails if
the checked-in README is stale or a key is undocumented.
"""

from __future__ import annotations

import re
from pathlib import Path

CONFIG_START = "<!-- generated:config:start -->"
CONFIG_END = "<!-- generated:config:end -->"
METRICS_START = "<!-- generated:metrics:start -->"
METRICS_END = "<!-- generated:metrics:end -->"


def _fmt_default(v) -> str:
    if v is None:
        return "`None`"
    if isinstance(v, str):
        return f"`\"{v}\"`"
    return f"`{v}`"


def config_table() -> str:
    """Markdown table of every engine config key, its default, and doc.
    Environment-derived defaults render as their no-environment values,
    so the table does not depend on the host that regenerates it."""
    from storm_dynamic_spout_spark.engine import CONFIG_DOCS, DEFAULTS, spark_env_defaults

    missing = set(DEFAULTS) ^ set(CONFIG_DOCS)
    if missing:
        raise ValueError(f"DEFAULTS and CONFIG_DOCS disagree on keys: {sorted(missing)}")
    defaults = {**DEFAULTS, **spark_env_defaults({})}
    lines = [
        "| Key | Default | Description |",
        "|---|---|---|",
    ]
    for key, value in defaults.items():
        doc = CONFIG_DOCS[key].replace("|", "\\|")
        lines.append(f"| `{key}` | {_fmt_default(value)} | {doc} |")
    return "\n".join(lines)


def metrics_table() -> str:
    """Markdown table of every metric key the engine emits."""
    from storm_dynamic_spout_spark.streaming.metrics import METRIC_CATALOG

    lines = [
        "| Key | Type | Description |",
        "|---|---|---|",
    ]
    for key, kind, doc in METRIC_CATALOG:
        lines.append(f"| `{key}` | {kind} | {doc} |")
    return "\n".join(lines)


def _splice(text: str, start: str, end: str, body: str) -> str:
    pattern = re.compile(re.escape(start) + r".*?" + re.escape(end), re.DOTALL)
    if not pattern.search(text):
        raise ValueError(f"README markers not found: {start}")
    return pattern.sub(f"{start}\n{body}\n{end}", text)


def render(readme_text: str) -> str:
    """README text with both generated sections re-rendered."""
    out = _splice(readme_text, CONFIG_START, CONFIG_END, config_table())
    return _splice(out, METRICS_START, METRICS_END, metrics_table())


def main() -> None:
    readme = Path(__file__).resolve().parent.parent / "README.md"
    readme.write_text(render(readme.read_text()))
    print(f"regenerated tables in {readme}")


if __name__ == "__main__":
    main()
