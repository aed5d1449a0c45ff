"""Check a tier-1 junit report against the tests that need reference data.

    python -m pytest tests/ ... --junitxml=tier1.xml
    python scripts/check_tier1_failures.py tier1.xml

`tests/conftest.py::REFERENCE_TESTS` lists the tests that read the upstream
reference checkout (its examples and docs, under a directory named
`reference`), which a plain checkout does not ship. A failure or error is
let through only when the test is listed AND its report names a missing
path inside that checkout (`FileNotFoundError` or Spark's
`PATH_NOT_FOUND`). Every other failure or error, of a listed test or not,
is printed with its message and makes this script exit 1. Listed tests
that pass are printed as a note: the reference data is mounted, or the
entry is stale.
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the path a missing-file error names: Python's FileNotFoundError, or the
# PATH_NOT_FOUND analysis error of a Spark reader
MISSING_PATH = re.compile(
    r"(?:No such file or directory: '|\[PATH_NOT_FOUND\] Path does not "
    r"exist: (?:file:)?)([^'\s]+)"
)


def reference_tests() -> frozenset[str]:
    spec = importlib.util.spec_from_file_location(
        "tests_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.REFERENCE_TESTS


def junit_id(nodeid: str) -> str:
    """'tests/test_x.py::Cls::test_y[p]' -> 'tests.test_x.Cls::test_y[p]',
    the classname::name form a junit report carries."""
    path, *rest = nodeid.split("::")
    return ".".join([path[:-3].replace("/", "."), *rest[:-1]]) + "::" + rest[-1]


def outcomes(xml_path: str) -> dict[str, tuple[str, str]]:
    """-> {classname::name: (outcome, report text)}; outcome is 'failed',
    'error', 'skipped' or 'passed', the text is the failure's or error's
    message and traceback ('' otherwise)."""
    out = {}
    for case in ET.parse(xml_path).getroot().iter("testcase"):
        tid = f"{case.get('classname', '')}::{case.get('name')}"
        outcome, text = "passed", ""
        for child in case:
            if child.tag in ("failure", "error"):
                outcome = "failed" if child.tag == "failure" else "error"
                text = f"{child.get('message', '')}\n{child.text or ''}"
                break
            if child.tag == "skipped":
                outcome = "skipped"
        out[tid] = (outcome, text)
    return out


def names_missing_reference_path(text: str) -> bool:
    """Whether a failure's text names a missing path inside the reference
    checkout."""
    return any("/reference/" in path.rstrip(".") + "/"
               for path in MISSING_PATH.findall(text))


def first_line(text: str) -> str:
    return next((ln.strip() for ln in text.splitlines() if ln.strip()), "")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    known = {junit_id(t) for t in reference_tests()}
    seen = outcomes(argv[0])
    failed = {t: v for t, v in seen.items() if v[0] in ("failed", "error")}
    bad = {}
    for t, (outcome, text) in sorted(failed.items()):
        if t not in known:
            why = "not in REFERENCE_TESTS"
        elif not names_missing_reference_path(text):
            why = "no missing reference path in its report"
        else:
            continue
        bad[t] = f"{outcome}: {t} [{why}]\n    {first_line(text)}"
    for t in sorted(t for t in known if seen.get(t, ("",))[0] == "passed"):
        print(f"note: listed reference test passed: {t}")
    for line in bad.values():
        print(line)
    print(f"{len(seen)} tests, {len(failed)} failed or errored, "
          f"{len(failed) - len(bad)} on missing reference data, {len(bad)} not")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
