from mini_lakehouse_control_plane_executor_spark.plans.query import Aggregate, SimpleQuery

__all__ = ["Aggregate", "SimpleQuery"]
