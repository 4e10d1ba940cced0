"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference repo
``ananyamissra/Employee-Data-Management-System-Data-Engineering-Solution``.

Built Spark-first: DataFrame/SQL logical plans, Catalyst/Tungsten physical
execution, Structured Streaming for the stream surface. See SURVEY.md for
the operator inventory this package covers.

Import shorthand used throughout the repo::

    import employee_data_management_system_data_engineering_solution_spark as eds
"""

__all__ = ["get_session"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # ``get_session`` loads on first use (PEP 562): importing the package
    # must not import pyspark, because ``python -m <package>.worker_daemon``
    # runs this file before the daemon has fixed the worker's sys.path
    if name == "get_session":
        from .session import get_session

        return get_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
