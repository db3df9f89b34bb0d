package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import graft.sources.RegistryPageFetcher

/** The registry fetcher, counting how often each page position of a
  * feed is fetched. Readers build their own instance by class name, so
  * the counts live in the companion. */
class CountingPageFetcher extends RegistryPageFetcher {
  override def fetch(feed: String, from: Long, until: Long): Iterator[(Long, String)] = {
    (from until until).foreach(p =>
      CountingPageFetcher.fetched.merge(s"$feed#$p", 1, Integer.sum(_, _)))
    super.fetch(feed, from, until)
  }
}

object CountingPageFetcher {
  private val fetched = new ConcurrentHashMap[String, Integer]()

  /** Fetches of page position `p` of `feed` so far. */
  def times(feed: String, p: Long): Int =
    Option(fetched.get(s"$feed#$p")).fold(0)(_.intValue)
}
