from flink_example_spark.sources.fixtures import game_play, purchase

__all__ = ["game_play", "purchase"]
