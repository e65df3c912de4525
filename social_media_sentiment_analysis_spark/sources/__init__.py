from .batch import load_table  # noqa: F401
from .poll import TweetPollDataSource  # noqa: F401
