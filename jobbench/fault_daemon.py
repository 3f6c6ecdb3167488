"""Self-test only: a PySpark worker daemon whose workers' blended kernel
raises on every page, so every blended row takes the extraction stage's
``engine exception:`` guard.

``run.py --kernel-fault`` makes Spark start this module in place of
``pyspark.daemon`` (``spark.python.daemon.module``) and installs the same
fault in its own process, where the oracle runs, so the oracle reproduces
the guarded rows byte for byte and only the guard check can catch them.
"""

from universal_key_value_based_text_processing_with_ocr_spark.kvcore import ktpspec


class KernelFault(RuntimeError):
    pass


def install() -> None:
    """Replace the blended kernel entry; the row wrappers look it up on
    ``ktpspec`` at call time, and forked workers inherit the module."""

    def parse_document_blended(doc, configs=None):
        raise KernelFault("injected by jobbench --kernel-fault")

    ktpspec.parse_document_blended = parse_document_blended


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
