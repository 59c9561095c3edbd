"""Parameterized query builders — the reference's most-called query
(`RecentTweets.get_recent_tweets`) as a DataFrame plan function."""
