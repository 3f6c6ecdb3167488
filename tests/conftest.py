import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))


def pytest_terminal_summary(terminalreporter):
    """Name every reference-parity test that skipped because the reference
    implementation is absent, with its reason: a bare ``s`` hides that the
    parity chain did not run."""
    from tests import refharness

    if refharness.reference_available():
        return
    skipped = []
    for report in terminalreporter.stats.get("skipped", []):
        longrepr = report.longrepr
        reason = longrepr[2] if isinstance(longrepr, tuple) else str(longrepr)
        if "reference" in reason:
            skipped.append((report.nodeid, reason.removeprefix("Skipped: ")))
    if not skipped:
        return
    terminalreporter.section(
        f"{len(skipped)} reference-parity tests skipped: no reference at "
        f"{refharness.REFERENCE_DIR}",
        yellow=True,
    )
    for nodeid, reason in skipped:
        terminalreporter.line(f"SKIPPED {nodeid}: {reason}")
