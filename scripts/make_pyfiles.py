"""Package the engine as a zip for spark-submit --py-files
(BASELINE.json:6 'via spark-submit --py-files').

    python scripts/make_pyfiles.py    # writes dist/engine.zip

The archive is a build output, never committed; callers that need it
elsewhere pass ``build`` an output path.
"""

from __future__ import annotations

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def build(out: pathlib.Path) -> pathlib.Path:
    out.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "text_extraction_evaluation_spark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
    return out


if __name__ == "__main__":
    print(build(ROOT / "dist" / "engine.zip"))
